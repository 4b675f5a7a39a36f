"""Summary report + locators — the Report/Status/Locator analogue.

Reference shapes: Report{metadata, summary: CheckName→Status},
Status{pass, fail, desc, locators, category} (src/report/mod.rs:16-132),
Locator{variable_name, variable_index, value_index} (src/report/mod.rs:163-167).

Our locators key on (conv_id, turn_idx) — a documented semantic upgrade
over the reference's one-locator-per-column quirk (Locator Eq/Ord compare
only variable_index, src/report/mod.rs:169-186; see SURVEY.md §1.1).
The per-rule locator list is capped at 1000 mirroring the HTML report cap
(src/report/html/mod.rs:115).

Counting contract: per rule, fail = #turns hitting, pass = #turns − fail
(uniform; documented deviation per SURVEY.md §2.3 — the reference mixes
per-item and variable_count−fail schemes across checks).
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from qamd_spark.config import QamdConfig
from qamd_spark.lineage import rule_hit_sums

LOCATOR_CAP = 1000  # reference src/report/html/mod.rs:115

# summarize's output contract; the cast also types the empty array that
# a config with no enabled rules produces
_SUMMARY_ROWS = (
    "array<struct<rule:string,category:string,action:string,desc:string,"
    "pass:bigint,fail:bigint>>"
)


def summarize(labeled: DataFrame, cfg: QamdConfig) -> DataFrame:
    """One aggregation pass → (rule, category, action, desc, pass, fail),
    one row per enabled rule in registry order.

    One global aggregate (the Spark translation of the reference's
    run-every-post-check-over-one-frequency-table pattern) yields one
    struct per rule: name/category/action/desc as literals, pass/fail
    from the turn total and :func:`lineage.rule_hit_sums`. ``inline``
    unrolls that single row, so the plan reads nothing but ``labeled``.
    Zero enabled rules give an empty frame with the same schema; a
    zero-row input gives pass = fail = 0.
    """
    hits = rule_hit_sums(cfg)
    total = F.count(F.lit(1))
    rows = []
    for spec in cfg.enabled_rules():
        fail = F.coalesce(hits[spec.name], F.lit(0))
        rows.append(
            F.struct(
                F.lit(spec.name),
                F.lit(spec.category),
                F.lit(cfg.action(spec.name)),
                F.lit(spec.desc),
                total - fail,
                fail,
            )
        )
    return labeled.agg(
        F.array(*rows).cast(_SUMMARY_ROWS).alias("_rows")
    ).select(F.inline("_rows"))


def locators(labeled: DataFrame, cap: int = LOCATOR_CAP) -> DataFrame:
    """Per rule: first `cap` failing (conv_id, turn_idx), sorted — exact,
    computed as a two-phase top-k so no single task ever holds more than
    cap locators per rule:

    phase 1: groupBy(rule, input partition id) → per-partition sorted
             slice of ≤ cap (bounded memory, map-side);
    phase 2: tree-reduce — while more than FANIN partials remain per
             rule, combine groups of ≤ FANIN partials (each combine task
             holds ≤ FANIN × cap structs), then one final groupBy(rule)
             over ≤ FANIN partials = exact global first-cap.

    A naive groupBy(rule).collect_list would pull every hit of a hot rule
    (possibly 10^11 rows) into one task; a Window.partitionBy(rule) has
    the same skew; and a single-round phase 2 would concentrate
    cap × #input-partitions structs into one task (at 10^6 scan
    partitions that is ~10^9 structs — the very OOM this function
    exists to avoid). The combine-round count is ceil(log_FANIN(npart)):
    0 extra rounds at local test scale (≤ 64 partitions), 3 at 10^6.
    """
    exploded = (
        labeled.filter(F.size("rule_hits") > 0)
        .select(
            F.explode("rule_hits").alias("rule"),
            "conv_id",
            "turn_idx",
            F.spark_partition_id().alias("_pid"),
        )
    )
    part = exploded.groupBy("rule", "_pid").agg(
        F.slice(
            F.sort_array(F.collect_list(F.struct("conv_id", "turn_idx"))), 1, cap
        ).alias("locs"),
        F.count(F.lit(1)).alias("cnt"),
    ).withColumnRenamed("_pid", "_g")
    FANIN = 64
    # getNumPartitions is plan translation only (no job); explode/filter
    # are narrow, so exploded has the same partition count as labeled
    npart = max(1, labeled.rdd.getNumPartitions())
    while npart > FANIN:
        npart = -(-npart // FANIN)
        part = (
            part.withColumn("_g", (F.col("_g") / FANIN).cast("long"))
            .groupBy("rule", "_g")
            .agg(
                F.slice(
                    F.sort_array(F.flatten(F.collect_list("locs"))), 1, cap
                ).alias("locs"),
                F.sum("cnt").alias("cnt"),
            )
        )
    return (
        part.groupBy("rule")
        .agg(
            F.slice(F.sort_array(F.flatten(F.collect_list("locs"))), 1, cap).alias(
                "locators"
            ),
            F.sum("cnt").alias("n_fail"),
        )
        .orderBy("rule")
    )


def metadata_stats(df: DataFrame) -> dict:
    """The Report.metadata analogue (reference src/report/mod.rs:45-61):
    raw_case_count = total turns; case_count = distinct conversations (the
    primary_variable distinct count, src/check/post.rs:72-89);
    variable_count = schema width; role_occurrences mirrors
    data_type_occurrences (src/readstat/handler.rs:77-82). One agg job."""
    row = df.agg(
        F.count(F.lit(1)).alias("raw_case_count"),
        F.countDistinct("conv_id").alias("case_count"),
    ).collect()[0]
    roles = {
        r["role"]: r["n"]
        for r in df.groupBy("role").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return {
        "raw_case_count": int(row["raw_case_count"]),
        "case_count": int(row["case_count"]),
        "variable_count": len(df.schema.fields),
        "role_occurrences": roles,
    }


def summary_json(
    labeled: DataFrame,
    cfg: QamdConfig,
    metadata: dict | None = None,
    include_locators: bool = False,
) -> str:
    """Serialize the full report as one JSON document (the reference's JSON
    sink analogue, src/bin/qamd.rs:233). ``include_locators=False`` is the
    metadata-only mode: pass/fail counts still emitted, the locator
    collection job suppressed (reference -m flag, src/bin/qamd.rs:214-218;
    locator suppression src/check/macros.rs:12-13).

    The summary aggregate and the locators are independent actions over
    ``labeled``: the locators run on a worker thread, which carries the
    caller's job group and tags, beside the aggregate."""
    with ThreadPoolExecutor(max_workers=1) as pool:
        if include_locators:
            loc_rows = pool.submit(
                inheritable_thread_target(labeled.sparkSession)(
                    lambda: locators(labeled).collect()
                )
            )
        summ = [r.asDict() for r in summarize(labeled, cfg).collect()]
    doc: dict = {
        "metadata": metadata or {},
        "summary": summ,
    }
    if include_locators:
        doc["locators"] = {
            r["rule"]: {
                "n_fail": int(r["n_fail"]),
                "first": [
                    [loc["conv_id"], int(loc["turn_idx"])] for loc in r["locators"]
                ],
            }
            for r in loc_rows.result()
        }
    return json.dumps(doc, indent=2, default=str)


def _esc(v) -> str:
    import html as _html

    return _html.escape(str(v))


def _slug(rule) -> str:
    """HTML-id-safe slug for a rule name (ADVICE r4): the click-to-reveal
    lookup builds ``getElementById('loc-' + rule)``, so the id and the
    ``data-rule`` attribute must both survive names with whitespace or
    punctuation. Snake_case names (every built-in rule) pass through
    unchanged, keeping the golden report byte-identical. Any other name
    gets a short hash of the raw name appended, so names that differ
    only in replaced characters ('a b', 'a.b') keep distinct ids."""
    import hashlib
    import re as _re

    name = str(rule)
    slug = _re.sub(r"[^A-Za-z0-9_-]", "_", name)
    if slug == name:
        return slug
    return slug + "-" + hashlib.md5(name.encode("utf-8")).hexdigest()[:8]


def to_html(doc: dict) -> str:
    """HTML report sink (the reference's DEFAULT output format:
    Report::to_html, src/report/html/mod.rs:19-102 — metadata block, one
    table per check category, per-check locator tables capped at 1000
    rows, src/report/html/mod.rs:115). Self-contained (inline CSS, no
    CDN) so it renders offline; input is the summary_json document dict.

    Interactivity parity with the reference's custom.js
    (src/report/html/custom.js:18-43, served by html/mod.rs:91-96):
    locator tables start hidden; clicking a FAILING check row reveals
    that check's locator table (hiding the others), fills the
    #selected-check heading, pulses the row, and scrolls to the table —
    vanilla inline JS here (the reference ships jQuery; self-contained
    beats CDN parity). A <noscript> override unhides every locator
    table so the report degrades to the old static rendering."""
    from qamd_spark.config import CATEGORIES

    md = doc.get("metadata", {})
    summary = doc.get("summary", [])
    locs = doc.get("locators", {})
    parts = [
        "<!DOCTYPE html><html><head><meta charset='utf-8'>",
        "<title>qamd_spark data health check</title>",
        "<style>body{font-family:sans-serif;margin:2em}"
        "table{border-collapse:collapse;margin:1em 0}"
        "td,th{border:1px solid #999;padding:4px 8px;text-align:left}"
        "th{background:#eee}.fail{color:#a00;font-weight:bold}"
        ".pass{color:#080}.hidden{display:none}"
        "tr.fail-row{cursor:pointer}"
        "@keyframes qpulse{0%{background:#fff}50%{background:#fdd}100%{background:inherit}}"
        "tr.pulse{animation:qpulse .4s}</style>"
        "<noscript><style>.loc-block{display:block !important}"
        "#selected-check{display:none !important}</style></noscript>"
        "</head><body>",
        "<h1>Data health check</h1>",
        "<h2>Metadata</h2><table>",
    ]
    for k, v in md.items():
        parts.append(f"<tr><th>{_esc(k)}</th><td>{_esc(v)}</td></tr>")
    parts.append("</table>")
    for cat in CATEGORIES:
        rows = [r for r in summary if r.get("category") == cat]
        if not rows:
            continue
        parts.append(f"<h2>{_esc(cat.replace('_', ' ').title())}</h2>")
        parts.append(
            "<table><tr><th>rule</th><th>description</th><th>action</th>"
            "<th>pass</th><th>fail</th></tr>"
        )
        for r in rows:
            failing = int(r["fail"]) > 0
            cls = "fail" if failing else "pass"
            # failing rows are click targets (reference binds to
            # tr.table-danger, custom.js:18)
            tr = (
                f"<tr class='fail-row' data-rule='{_slug(r['rule'])}'"
                f" data-rule-label='{_esc(r['rule'])}'>"
                if failing
                else "<tr>"
            )
            parts.append(
                f"{tr}<td>{_esc(r['rule'])}</td><td>{_esc(r['desc'])}</td>"
                f"<td>{_esc(r['action'])}</td><td>{int(r['pass'])}</td>"
                f"<td class='{cls}'>{int(r['fail'])}</td></tr>"
            )
        parts.append("</table>")
    if locs:
        parts.append("<h2>Locators</h2>")
        parts.append(
            "<h2 id='selected-check' class='hidden'></h2>"
        )  # filled on row click (reference h2#selected-check)
        for rule, body in locs.items():
            first = body.get("first", [])[:LOCATOR_CAP]  # reference cap, html/mod.rs:115
            parts.append(f"<div class='loc-block hidden' id='loc-{_slug(rule)}'>")
            parts.append(
                f"<h3>{_esc(rule)} ({int(body.get('n_fail', len(first)))} failing, "
                f"first {len(first)} shown)</h3>"
            )
            parts.append("<table><tr><th>conv_id</th><th>turn_idx</th></tr>")
            for conv_id, turn_idx in first:
                parts.append(
                    f"<tr><td>{_esc(conv_id)}</td><td>{int(turn_idx)}</td></tr>"
                )
            parts.append("</table></div>")
    parts.append(
        "<script>"
        "document.querySelectorAll('tr.fail-row').forEach(function(row){"
        "row.addEventListener('click',function(){"
        "var rule=row.getAttribute('data-rule');"
        "var h=document.getElementById('selected-check');"
        "if(h){h.classList.remove('hidden');"
        "h.textContent=row.getAttribute('data-rule-label')||rule;}"
        "document.querySelectorAll('.loc-block').forEach(function(b){"
        "b.classList.add('hidden');});"
        "var sel=document.getElementById('loc-'+rule);"
        "if(sel){sel.classList.remove('hidden');}"
        "row.classList.remove('pulse');void row.offsetWidth;"
        "row.classList.add('pulse');"
        "if(sel){sel.scrollIntoView({behavior:'smooth'});}"
        "});});"
        "</script>"
    )
    parts.append("</body></html>")
    return "".join(parts)
