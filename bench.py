#!/usr/bin/env python3
"""Benchmark harness.

Default mode: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Scaling mode (--scaling): runs the full transcript pipeline on the SAME
synthesized input at local[8] and local[32] in separate JVMs (sandbox proxy
for N vs 4N executors, per BASELINE.md) and writes BENCH/BASELINE.md with
turns/sec at both plus scaling efficiency.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

# operator benchmarks timed after the pipeline runs; every name is a key
# of __spark_entry__.queries() (tests/test_entry_contract.py checks it)
BENCH_QUERIES = (
    "dedup_exact",
    "minhash_dedup",
    "simhash_neardup",
    "dedup_clusters",
    "winnow_containment",
    "contamination",
    "corpus_curate",
    "quality_topk_lang",
    "gopher_repetition",
    "span_dedup",
    "substr_dedup",
    "spearman_signals",
    "corpus_transform",
    "tfidf_topk",
    "quality_classifier",
    "source_divergence",
    "bloom_dedup",
    "pack_sequences",
    "line_filter",
    "fingerprint",
    "dsir_weights",
    "refusal_scan",
    "sketch_profile",
    "bpe_train",
    "echo_detect",
    "quality_gate_by_source",
    "chunk_text",
    "soft_dedup",
    "source_overlap",
    "rule_ablation",
    "ks_drift",
    "length_outliers",
    "ngram_novelty",
    "lang_source_chi2",
    "token_concentration",
    "collocations",
    "tool_usage",
    "split_leakage",
    "compression_ratio",
    "agent_loop_detect",
    "readability",
    "url_dedup",
    "vocab_coverage",
    "injection_scan",
    "prefix_neardup",
    "ngram_lm",
    "lm_score",
    "curriculum_buckets",
    "shard_plan",
    "unigram_lm_train",
    "unicode_nfc",
    "pagerank",
    "triangles",
    "components",
    "merge_upsert",
    "cube_counts",
    "inverted_index",
    "bm25_search",
    "tool_assoc",
    "weighted_sample",
    "skyline_docs",
    "setsim_join",
    "typo_mine",
    "quantile_norm",
    "header_footer_strip",
    "isotonic_calibrate",
    "threshold_sweep",
    "dedup_recall_audit",
    "response_rouge",
    "special_tokens",
    "bootstrap_keep",
    "blocklist_phrases",
    "dangling_tools",
    "watermark_scan",
    "citation_check",
    "tool_args_valid",
    "conv_fork_detect",
    "homoglyph_scan",
    "kendall_tau",
    "toxicity_escalation",
    "wilson_winrate",
    "mann_whitney",
    "bh_fdr",
    "mcnemar",
    "krippendorff_alpha",
    "shapley_rules",
    "user_retry_detect",
    "pii_echo",
    "emd_drift",
    "runs_test",
    "markdown_audit",
    "number_grounding",
    "conformal_gate",
    "dedup_survivorship",
    "shapley_pipeline",
    "kcore",
    "rule_phi",
    "leet_scan",
    "conv_quality_card",
    "fleiss_kappa",
    "cdc_dedup",
    "char_entropy",
    "truncation_scan",
    "dialog_acts",
    "pseudonymize",
    "winsorized_stats",
    "bigram_diversity",
    "levenshtein_neardup",
    "bidi_scan",
    "shuffle_quality",
    "response_rouge_l",
    "source_vocab_overlap",
    "ngram_entropy",
    "lpa_communities",
    "keep_by_position",
    "degree_profile",
    "entropy_secrets",
    "chunk_anomaly",
    "dedup_transitivity",
    "degree_assortativity",
    "length_gini",
    "source_share_gini",
    "mix_weights_langid",
    "cjk_token_count",
    "heaps_law",
    "source_dup_affinity",
    "role_alternation",
)


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def transcripts_path(sf: float) -> str:
    """Deterministic synthetic transcripts sized to the scale factor,
    cached under .bench_cache (generation is seeded ⇒ reusable).
    Small row groups (10k rows) so the single cached file still yields
    enough byte-range splits to feed every core — parquet splits cannot
    be finer than row groups."""
    n_convs = max(2000, int(600000 * sf))
    cache = os.path.join(REPO, ".bench_cache")
    os.makedirs(cache, exist_ok=True)
    path = os.path.join(cache, f"transcripts_n{n_convs}_rg10k_seed42_v3.parquet")
    if not os.path.exists(path):
        from qamd_spark import synth

        synth.write_parquet(
            path, n_convs=n_convs, seed=42, hot_conv_turns=2000,
            row_group_rows=10_000,
        )
    return path


def run_benchmarks() -> dict:
    from qamd_spark import pipeline, session
    from qamd_spark.config import QamdConfig
    import __spark_entry__ as E

    sf = _sf_from_dir(SF_DIR)
    spark = session.get_spark(
        "qamd-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        # the bench inputs are single small parquet files; small byte-range
        # splits give the scan parallelism that a real multi-file table has
        # naturally (no repartition shuffle in the measured path)
        extra={"spark.sql.files.maxPartitionBytes": "512k"},
    )
    cfg = QamdConfig()
    tpath = transcripts_path(sf)
    timings: dict[str, float] = {}
    n_turns = 0

    def timed(name, fn):
        t0 = time.perf_counter()
        out = fn()
        timings[name] = round(time.perf_counter() - t0, 3)
        # NO between-query clearCache, deliberately (r5): many ops
        # persist() multi-consumer intermediates that nothing unpersists,
        # so cross-query cache accumulation LOOKED like a plausible drag
        # on late heavy queries — but the interleaved same-window A/B
        # (BENCH/ANALYSIS.md "clearCache A/B") measured clearing as ~5%
        # SLOWER overall and the apparent 17% win of the first clearing
        # run as monotone session drift (every consecutive bench run in
        # that window got faster regardless of variant). Spark's own LRU
        # eviction handles the accumulation; set QAMD_BENCH_CLEARCACHE=1
        # to re-run that A/B.
        if os.environ.get("QAMD_BENCH_CLEARCACHE"):
            spark.catalog.clearCache()
        return out

    # headline: full transcript pipeline (score+dedup+conv agg+decide)
    def _pipeline():
        from pyspark.sql import functions as F

        df = spark.read.parquet(tpath)
        labeled = pipeline.label(df, cfg)
        row = labeled.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("keep").cast("long")).alias("k")
        ).collect()[0]
        return row["n"]

    # warmup: spawn the Python workers + JIT/codegen the full plan once so
    # the timed run measures steady-state throughput, not session startup
    pipeline.label(
        spark.read.parquet(tpath).limit(20000).repartition(CPUS), cfg
    ).count()
    # two trials, min — the same drift discipline as the write/CLI pair
    # below (this host swings ~2-3x on minute timescales; a single-trial
    # flagship number is hostage to the window it lands in)
    fl_times = []
    for _ in range(2):
        t0 = time.perf_counter()
        n_turns = _pipeline()
        fl_times.append(time.perf_counter() - t0)
    timings["transcript_pipeline"] = round(min(fl_times), 3)

    # the SHIPPED path: checkpointed bucket-group runner (global stats side
    # tables + per-group pre-filter + manifested writes), measured against
    # the like-for-like single-pass labeled WRITE (both materialize the
    # output — comparing against the count-only pipeline would charge the
    # CLI for the write itself). The residual ratio is the price of the
    # per-group resume granularity: n_groups re-scans of the input, which
    # on bucket-partitioned (Iceberg) input prune away but on this
    # unpartitioned local file are full scans.
    import shutil
    import tempfile

    def _pipeline_write():
        d = tempfile.mkdtemp(prefix="qamd_bench_pw_")
        try:
            out = pipeline.label(spark.read.parquet(tpath), cfg)
            (
                pipeline.salted_repartition(out, cfg)
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(d + "/data")
            )
            return spark.read.parquet(d + "/data").count()
        finally:
            shutil.rmtree(d, ignore_errors=True)

    def _checkpointed():
        from qamd_spark import checkpoint

        d = tempfile.mkdtemp(prefix="qamd_bench_ckpt_")
        try:
            written = checkpoint.run_with_checkpoints(
                spark, tpath, d, cfg
            )
            return sum(m.n_rows for m in written)
        finally:
            shutil.rmtree(d, ignore_errors=True)

    # the ratio below is a headline number, and this host's throughput
    # drifts on minute timescales (BENCH/ANALYSIS.md) — a sequential
    # A-then-B measurement swung 0.79 → 1.64 between two runs of the
    # SAME code. Interleave the pair (ABAB, min per config), the same
    # protocol as the scaling run and scripts/ab_flagship.py.
    pw_times, ck_times = [], []
    n_pw = n_ckpt = 0
    for _ in range(3):
        t0 = time.perf_counter()
        n_pw = _pipeline_write()
        pw_times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        n_ckpt = _checkpointed()
        ck_times.append(time.perf_counter() - t0)
    timings["pipeline_write"] = round(min(pw_times), 3)
    timings["cli_checkpointed"] = round(min(ck_times), 3)
    assert n_ckpt == n_turns == n_pw, (n_ckpt, n_pw, n_turns)

    # the composed curation CLI over the documents table at this SF
    # (normalize -> minhash dedup -> quality -> langid allowlist): the
    # end-to-end recipe number a curation user sees
    def _curate():
        import contextlib
        import io as _io

        from qamd_spark import main as qmain

        d = tempfile.mkdtemp(prefix="qamd_bench_cur_")
        try:
            # swallow the subcommand's own status line — bench stdout is
            # ONE JSON line by contract
            with contextlib.redirect_stdout(_io.StringIO()):
                rc = qmain.main(
                    ["curate", "--input", f"{SF_DIR}/documents.parquet",
                     "--output", d, "--dedup", "minhash", "--langs", "en"]
                )
            assert rc == 0
            return spark.read.parquet(d + "/data").count()
        finally:
            shutil.rmtree(d, ignore_errors=True)

    timed("cli_curate", _curate)

    # operator benchmarks over the driver tables at this SF
    for name in BENCH_QUERIES:
        q = E.queries()[name]
        timed(name, lambda q=q: q(spark, SF_DIR).count())

    spark.stop()
    total = round(sum(timings.values()), 3)
    return {
        "metric": "qamd_pipeline_plus_ops_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_turns": int(n_turns),
        "turns_per_sec": round(n_turns / timings["transcript_pipeline"], 1),
        "cli_vs_pipeline_ratio": round(
            timings["cli_checkpointed"] / timings["pipeline_write"], 3
        ),
        "cpus": CPUS,
    }


SCALING_N_CONVS = 300000  # ~3M turns: big enough that per-stage fixed
                          # overheads are small, small enough that one
                          # whole scaling session stays inside a ~10-min
                          # window — the host's throughput drifts on
                          # minute timescales (see SCALING_LO note), so
                          # shorter sessions see less drift

# Fallback N→4N pair; the scaling run normally picks the pair at runtime
# from a fresh hardware calibration — see run_scaling(). This sandbox's
# pure-CPU scaling ceiling is NON-STATIONARY: across one session we
# measured (2→8, 4→16, 8→32) efficiencies of (0.93, 0.90, 0.70) and,
# hours later, (0.76, 0.71, 0.96) for the identical zero-coordination
# numpy/regex kernel — hypervisor co-tenancy / frequency management, not
# anything a job can control. A fixed pair therefore measures the host's
# mood; calibrating immediately before the run and choosing the pair the
# MACHINE can currently express makes the measurement reflect the
# pipeline.
SCALING_LO, SCALING_HI = 4, 16


def scaling_input(n_convs: int = SCALING_N_CONVS) -> str:
    cache = os.path.join(REPO, ".bench_cache")
    os.makedirs(cache, exist_ok=True)
    path = os.path.join(cache, f"transcripts_n{n_convs}_seed42_v3.parquet")
    if not os.path.exists(path):
        from qamd_spark import synth

        synth.write_parquet(path, n_convs=n_convs, seed=42, hot_conv_turns=5000)
    return path


def _scaling_child(cpus: int, runs: int = 2, n_convs: int = SCALING_N_CONVS) -> dict:
    """Steady-state pipeline throughput at `cpus` cores in a fresh JVM.

    Honesty + methodology:
    - the WHOLE process tree (JVM task threads + pyspark daemon workers)
      is pinned to exactly `cpus` cores via taskset, emulating an N-core
      cluster. Without pinning, local[4] free-rides on idle cores (its
      4 JVM threads + 4 Python workers spread over 8 physical cores) and
      the measured "4-core" baseline is inflated ~1.4x.
    - scan parallelism comes from parquet splits (maxPartitionBytes sized
      so this small file yields ~32 splits), NOT a repartition() shuffle —
      matching a real multi-file table scan and saving one full pass.
    - first run after warmup is still ~1.5x slower than steady state
      (JIT, GC ramp, page cache); we take the min of `runs` measured runs.
    """
    code = f"""
import json, sys, time
sys.path.insert(0, {REPO!r})
from qamd_spark import pipeline, session
from qamd_spark.config import QamdConfig
import bench
tpath = bench.scaling_input(n_convs={n_convs})
spark = session.get_spark('qamd-scale', master='local[{cpus}]', shuffle_partitions={cpus},
                          extra={{'spark.sql.files.maxPartitionBytes': '3m'}})
cfg = QamdConfig()
# warmup: JVM codegen + spawn all Python workers (full-width small job)
pipeline.label(spark.read.parquet(tpath).limit(50000).repartition({cpus} * 2), cfg).count()
best, n = 1e18, 0
for _ in range({runs}):
    df = spark.read.parquet(tpath)
    t0 = time.perf_counter()
    n = pipeline.label(df, cfg).count()
    best = min(best, time.perf_counter() - t0)
print(json.dumps({{"cpus": {cpus}, "n_turns": n, "sec": round(best,3),
                   "turns_per_sec": round(n/best,1)}}))
spark.stop()
"""
    cmd = ["taskset", "-c", f"0-{cpus - 1}", sys.executable, "-c", code]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(out.stderr[-4000:])
        raise RuntimeError(f"scaling child (local[{cpus}]) produced no result")
    return json.loads(lines[-1])


def calibrate_hardware(rounds: int = 3) -> dict:
    """Pure-CPU multiprocessing scaling of this sandbox (no Spark): the
    ceiling any job can reach. Regex + numpy kernel, warm pools.

    The host's per-core speed drifts on minute timescales, so a single
    sweep can even measure superlinear N→4N "efficiency" (the N-proc
    window happened to be throttled). Interleaved rounds with min-wall
    per worker count decorrelate that drift the same way the pipeline
    trials do."""
    import multiprocessing as mp

    def bench_procs(procs: int, total_tasks: int = 256, n: int = 1000) -> float:
        with mp.Pool(procs) as p:
            p.map(_calib_work, [10] * procs)  # warm
            t0 = time.perf_counter()
            p.map(_calib_work, [n] * total_tasks)
            return time.perf_counter() - t0

    counts = (2, 4, 8, 16, 32)
    best: dict[int, float] = {c: 1e18 for c in counts}
    for _ in range(rounds):
        for c in counts:
            best[c] = min(best[c], bench_procs(c))
    out = {c: round(best[c], 2) for c in counts}
    return {
        "sec": out,
        "eff_2_8": round(out[2] / out[8] / 4, 3),
        "eff_4_16": round(out[4] / out[16] / 4, 3),
        "eff_8_32": round(out[8] / out[32] / 4, 3),
    }


def _calib_work(n: int) -> int:
    import re

    import numpy as np

    rx = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    s = "hello john.doe@example.org the quick brown fox " * 50
    acc = 0
    for _ in range(n):
        acc += len(rx.findall(s))
        a = np.arange(20000, dtype=np.float64)
        acc += int((a * a).sum() % 7)
    return acc


def run_scaling(trials: int = 2) -> None:
    """Self-calibrating interleaved pinned scaling run; best per config.

    1. Calibrate the hardware (pure-CPU kernel) and pick the N→4N pair
       with the highest CURRENT machine efficiency (see SCALING_LO note —
       the sandbox ceiling drifts by tens of percent between sessions).
    2. Run the pipeline at both configs, `trials` interleaved child runs
       per config, each child taking min-of-2 steady-state runs.
    """
    calib = calibrate_hardware()
    pairs = {
        (2, 8): calib["eff_2_8"],
        (4, 16): calib["eff_4_16"],
        (8, 32): calib["eff_8_32"],
    }
    window_calibs: list[dict] = []  # one per trial sweep, interleaved
    # smallest pair whose hardware ceiling is within 0.05 of the best:
    # among hardware-equivalent pairs, the smaller one amortizes per-job
    # fixed costs (stage scheduling, AQE re-planning, final agg) over a
    # longer lo-config runtime, so the measurement isolates the
    # pipeline's parallel fraction rather than Amdahl floor effects
    best_eff = max(pairs.values())
    lo, hi = min(p for p, e in pairs.items() if e >= best_eff - 0.05)
    # always ALSO run the fixed fallback pair so the headline can't be
    # accused of picking the host's most favorable window (the calibrated
    # pick and the fixed pair are both disclosed)
    configs = sorted({lo, hi, SCALING_LO, SCALING_HI})
    runs: dict[int, list[dict]] = {c: [] for c in configs}
    for _ in range(trials):
        for c in configs:
            runs[c].append(_scaling_child(c))
        # interleaved 1-round calibration: the hardware ceiling sampled
        # in the SAME window as the pipeline trials, so the fixed-pair
        # number can be normalized against what the host could deliver
        # while those exact trials ran (the ceiling drifts on minute
        # timescales — an up-front-only calibration dates immediately)
        window_calibs.append(calibrate_hardware(rounds=1))
    best = {c: min(rs, key=lambda r: r["sec"]) for c, rs in runs.items()}

    def _window_ceiling(a, b):
        # min-seconds per worker count ACROSS the interleaved rounds (the
        # same min-of-trials discipline as the pipeline numbers), then one
        # efficiency — robust to a single throttled round, unlike a mean
        # of per-round efficiencies (one bad small-config window produces
        # a nonsense >1 "efficiency" that poisons the mean). Clamped at
        # 1.0: a measured ceiling above 1 is itself drift noise and must
        # not make the normalized column flatter the pipeline.
        lo = min(w["sec"][a] if a in w["sec"] else w["sec"][str(a)] for w in window_calibs)
        hi = min(w["sec"][b] if b in w["sec"] else w["sec"][str(b)] for w in window_calibs)
        return min(round(lo / hi / (b / a), 3), 1.0)

    def _eff(a, b):
        return (best[b]["turns_per_sec"] / best[a]["turns_per_sec"]) / (b / a)

    eff = _eff(lo, hi)
    eff_fixed = _eff(SCALING_LO, SCALING_HI)
    # a true strong-scaling efficiency cannot exceed 1; the excess is host
    # drift between the two configs' windows — clamp the headline and
    # disclose the residual
    eff_headline = min(eff, 1.0)
    ceiling = _window_ceiling(lo, hi)
    ceiling_fixed = _window_ceiling(SCALING_LO, SCALING_HI)
    eff_norm = min(round(eff / ceiling, 3), 1.0) if ceiling else None
    eff_fixed_norm = (
        min(round(eff_fixed / ceiling_fixed, 3), 1.0) if ceiling_fixed else None
    )
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    trial_rows = "\n".join(
        f"| {c} cores, trial {i} | {r['sec']} | {r['turns_per_sec']} |"
        for c in configs
        for i, r in enumerate(runs[c])
    )
    config_rows = "\n".join(
        f"| {c} cores (pinned) | {best[c]['n_turns']} | {best[c]['sec']} |"
        f" {best[c]['turns_per_sec']} |"
        for c in configs
    )
    md = f"""# BENCH/BASELINE.md — two-cluster-size scaling run

Sandbox proxy for N→4N executors (BASELINE.json north_rule): the same full
transcript pipeline (score + scrub + langid + perplexity + dedup + conv
aggregates + keep/drop) on the SAME deterministic synthetic input
({best[lo]['n_turns']} turns), at {lo} and {hi} cores. Each config runs in
a fresh JVM whose whole process tree (JVM + pyspark workers) is PINNED to
exactly that many cores via `taskset` — the honest emulation of an N-core
cluster (unpinned, a local[{lo}] job free-rides on idle cores and inflates
the small-config baseline). {trials} interleaved trials per config, each
reporting min of 2 steady-state runs after a warmup.

| config | turns | wall sec (best) | turns/sec (best) |
|---|---|---|---|
{config_rows}

**Scaling efficiency (headline, {lo}→{hi} cores, x{hi // lo}):
{eff_headline:.3f}** (target ≥ 0.8 per BASELINE.json; raw measured
{eff:.3f}, clamped at 1.0 — a true strong-scaling efficiency cannot
exceed 1, any excess is host drift between the two configs' windows).

Both the calibrated pick and the fixed fallback pair are disclosed, each
against the pure-CPU hardware ceiling sampled in the SAME window (one
1-round calibration interleaved after every trial sweep; ceiling = the
min-seconds per worker count across those interleaved rounds, same
min-of-trials discipline as the pipeline numbers, clamped at 1.0 — not
an up-front number that dates while the trials run, and not a mean,
which one throttled round would poison):

| pair | raw eff | same-window hw ceiling | normalized (raw/ceiling, ≤1) |
|---|---|---|---|
| calibrated {lo}→{hi} | {eff:.3f} | {ceiling:.3f} | {eff_norm} |
| fixed {SCALING_LO}→{SCALING_HI} | {eff_fixed:.3f} | {ceiling_fixed:.3f} | {eff_fixed_norm} |

The normalized column answers "of the scaling the host could express in
that window, how much did the pipeline capture?" — the honest question
on a VM whose ceiling is non-stationary (see `BENCH/ANALYSIS.md` for the
stage-decomposition and bare-kernel controls that bound the pipeline's
intrinsic scaling loss vs host drift).

## Why {lo}→{hi} (live hardware calibration)

A pure-CPU multiprocessing kernel (regex + numpy, zero coordination — see
`bench.py --calibrate`) measures what this sandbox VM could deliver AT
RUN TIME: N→4N efficiency 2→8: {calib["eff_2_8"]}, 4→16: {calib["eff_4_16"]},
8→32: {calib["eff_8_32"]} (wall sec per worker count: {calib["sec"]}).
This ceiling caps ANY job, Spark or not, and is NON-STATIONARY — it
swung between (0.93, 0.90, 0.70) and (0.76, 0.71, 0.96) across one
session (hypervisor co-tenancy / frequency management). The bench
therefore calibrates first and runs the pipeline at the pair the machine
can currently express best, so the measurement reflects the pipeline
rather than the host's mood; the pipeline's {eff:.2f} should be read
against the same-window hardware ceiling of {ceiling:.2f}.

All trials:

| run | wall sec | turns/sec |
|---|---|---|
{trial_rows}

Input: `{scaling_input()}` (single ~96MB parquet file, 100k-row row
groups); scan parallelism via spark.sql.files.maxPartitionBytes=3m (~32
byte-range splits — emulating the thousands of natural splits of a real
multi-file table) with NO repartition() in the measured path; AQE on
(advisory 8m); shuffle.partitions = cores; labels verified
parallelism-invariant by tests/test_pipeline_oracle.py.
"""
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(md)
    print(
        json.dumps(
            {
                "pair": [lo, hi],
                "hardware_ceiling": ceiling,
                "best": {str(c): best[c] for c in configs},
                "scaling_efficiency": round(eff_headline, 3),
                "scaling_efficiency_raw": round(eff, 3),
                "scaling_efficiency_fixed_pair": round(eff_fixed, 3),
                "window_ceiling": ceiling,
                "window_ceiling_fixed_pair": ceiling_fixed,
                "scaling_efficiency_normalized": eff_norm,
                "scaling_efficiency_fixed_pair_normalized": eff_fixed_norm,
                "interleaved_window_calibs": window_calibs,
            }
        )
    )


SCALING_BIG_N_CONVS = 900_000  # ~9M turns: sizes the 16-core run to ~60s
                               # so per-job fixed costs (stage scheduling,
                               # worker spawn, final aggs — ~5s at any
                               # size) drop under 10% of wall and the
                               # fixed 4→16 pair measures the parallel
                               # fraction, not the Amdahl floor of a 23s
                               # job (r3 VERDICT item 2)


def run_scaling_big(trials: int = 2) -> None:
    """Fixed 4→16 pair at 3x the standard input, interleaved with
    1-round hardware calibrations; appends a disclosed section to
    BENCH/BASELINE.md (the headline protocol is run_scaling — this run
    answers the specific 'is the fixed-pair droop an Amdahl-floor
    artifact of the small input?' question)."""
    lo, hi = SCALING_LO, SCALING_HI
    scaling_input(SCALING_BIG_N_CONVS)  # build before timing windows
    runs: dict[int, list[dict]] = {lo: [], hi: []}
    calibs: list[dict] = []
    for _ in range(trials):
        for c in (lo, hi):
            runs[c].append(_scaling_child(c, n_convs=SCALING_BIG_N_CONVS))
        calibs.append(calibrate_hardware(rounds=1))
    best = {c: min(rs, key=lambda r: r["sec"]) for c, rs in runs.items()}
    eff = (best[hi]["turns_per_sec"] / best[lo]["turns_per_sec"]) / (hi / lo)
    lo_s = min(w["sec"][lo] for w in calibs)
    hi_s = min(w["sec"][hi] for w in calibs)
    ceiling = min(round(lo_s / hi_s / (hi / lo), 3), 1.0)
    norm = min(round(eff / ceiling, 3), 1.0)
    trial_rows = "\n".join(
        f"| {c} cores, trial {i} | {r['sec']} | {r['turns_per_sec']} |"
        for c in (lo, hi)
        for i, r in enumerate(runs[c])
    )
    md = f"""

## Fixed {lo}→{hi} pair at 3x input ({best[lo]['n_turns']} turns)

Same pinned-fresh-JVM protocol, {trials} interleaved trials, input sized
so the {hi}-core run is long enough that per-job fixed costs are <10% of
wall (see SCALING_BIG_N_CONVS note in bench.py):

| config | wall sec (best) | turns/sec (best) |
|---|---|---|
| {lo} cores (pinned) | {best[lo]['sec']} | {best[lo]['turns_per_sec']} |
| {hi} cores (pinned) | {best[hi]['sec']} | {best[hi]['turns_per_sec']} |

raw efficiency **{eff:.3f}**, same-window hardware ceiling {ceiling:.3f}
(min-based over the interleaved calibrations, clamped at 1), normalized
**{norm:.3f}**.

All trials:

| run | wall sec | turns/sec |
|---|---|---|
{trial_rows}
"""
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as f:
        f.write(md)
    print(
        json.dumps(
            {
                "pair": [lo, hi],
                "n_turns": best[lo]["n_turns"],
                "raw": round(eff, 3),
                "ceiling": ceiling,
                "normalized": norm,
                "best": {str(c): best[c] for c in (lo, hi)},
            }
        )
    )


# ---------------------------------------------------------------- skew
# Empirical skew-torture (r3 VERDICT item 4): the skew-safety story was
# plan-shape-proven (58 plan tests) but never load-proven. Two corpora of
# IDENTICAL row counts, one uniform and one adversarial (a 10^5-copy
# duplicate text, a 10^5-turn conversation, one source holding 90% of
# rows), interleaved min-of-2 runs; a skew-safe operator's wall time must
# stay within SKEW_BOUND of the uniform corpus. setsim_join runs on the
# post-exact-dedup view of both corpora (the real pipeline order: exact
# dedup THEN near-dup; an exact pair join over 10^5 byte-identical copies
# has a C(1e5,2)-row OUTPUT — no implementation can bound that, it is not
# a skew-handling question).

SKEW_BOUND = 1.5
SKEW_TOTAL_DOCS = 110_000
SKEW_DUP_COPIES = 100_000   # VERDICT letter: one text, 1e5 copies
SKEW_DISTINCT = SKEW_TOTAL_DOCS - SKEW_DUP_COPIES
SKEW_HOT_CONV_TURNS = 100_000  # VERDICT letter: one 1e5-turn conversation
SKEW_N_CONVS = 50_000          # + ~10-turn convs => ~600k turns (sf0.1-ish)
SKEW_DUP_TEXT = "please confirm the order number and the delivery date."


def _skew_doc_pdf(n_distinct: int, dup_copies: int, hot_source: bool, seed: int):
    """documents-table pandas frame: deterministic well-mixed token docs
    (per-doc random.Random — arithmetic index schemes create accidental
    near-dup families). hot_source=True puts 90% of rows on source s0."""
    import random as _random

    import pandas as pd

    vocab = [f"w{i:03d}" for i in range(500)]
    ids, texts, sources = [], [], []
    for i in range(n_distinct):
        r = _random.Random(seed * 1_000_003 + i)
        texts.append(" ".join(vocab[r.randrange(500)] for _ in range(30 + r.randint(0, 30))))
        ids.append(i)
    for k in range(dup_copies):
        texts.append(SKEW_DUP_TEXT)
        ids.append(n_distinct + k)
    n = len(ids)
    for i in ids:
        if hot_source:
            sources.append("s0" if (i * 2654435761 % n) < int(n * 0.9) else f"s{1 + i % 9}")
        else:
            sources.append(f"s{i % 10}")
    return pd.DataFrame(
        {
            "doc_id": pd.array(ids, dtype="int64"),
            "text": texts,
            "lang": "en",
            "source": sources,
            "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _write_docs_dir(pdf, path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(path, "documents.parquet"),
        row_group_size=20_000,
    )
    return path


def skew_inputs(scale: int = 1) -> dict:
    """Build (cached) the four corpus dirs/files; scale>1 divides sizes
    (the marked pytest runs at scale=10)."""
    import numpy as np

    from qamd_spark import synth

    cache = os.path.join(REPO, ".bench_cache", f"skew_s{scale}")
    os.makedirs(cache, exist_ok=True)
    n_distinct = SKEW_DISTINCT // scale
    dup = SKEW_DUP_COPIES // scale
    out = {
        "docs_uniform": os.path.join(cache, "docs_uniform"),
        "docs_skew": os.path.join(cache, "docs_skew"),
        "docs_uniform_small": os.path.join(cache, "docs_uniform_small"),
        "docs_skew_dedup": os.path.join(cache, "docs_skew_dedup"),
        "tr_uniform": os.path.join(cache, "tr_uniform.parquet"),
        "tr_skew": os.path.join(cache, "tr_skew.parquet"),
    }
    if not os.path.exists(os.path.join(out["docs_uniform"], "documents.parquet")):
        _write_docs_dir(
            _skew_doc_pdf(n_distinct + dup, 0, hot_source=False, seed=11), out["docs_uniform"]
        )
    skew_pdf = _skew_doc_pdf(n_distinct, dup, hot_source=True, seed=13)
    if not os.path.exists(os.path.join(out["docs_skew"], "documents.parquet")):
        _write_docs_dir(skew_pdf, out["docs_skew"])
    if not os.path.exists(os.path.join(out["docs_skew_dedup"], "documents.parquet")):
        # exact-dedup keep-first (min doc_id per text) — the pipeline's
        # own deterministic rule, materialized for the setsim stage
        _write_docs_dir(
            skew_pdf.sort_values("doc_id").drop_duplicates("text", keep="first"),
            out["docs_skew_dedup"],
        )
    if not os.path.exists(os.path.join(out["docs_uniform_small"], "documents.parquet")):
        _write_docs_dir(
            _skew_doc_pdf(n_distinct + 1, 0, hot_source=False, seed=11),
            out["docs_uniform_small"],
        )
    if not os.path.exists(out["tr_uniform"]):
        synth.write_parquet(
            out["tr_uniform"], n_convs=SKEW_N_CONVS // scale + SKEW_HOT_CONV_TURNS // scale // 10,
            seed=101, hot_conv_turns=10,
        )
    if not os.path.exists(out["tr_skew"]):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pdf = synth.generate(
            n_convs=SKEW_N_CONVS // scale, seed=102,
            hot_conv_turns=SKEW_HOT_CONV_TURNS // scale,
        )
        mask = (np.arange(len(pdf)) % 6) == 3  # ~1/6 of turns => ~1e5 copies
        pdf.loc[mask, "text"] = SKEW_DUP_TEXT
        schema = pa.schema(
            [
                pa.field("conv_id", pa.string(), nullable=False),
                pa.field("turn_idx", pa.int32(), nullable=False),
                pa.field("role", pa.string()),
                pa.field("text", pa.string()),
                pa.field("tool", pa.string()),
                pa.field("ts", pa.timestamp("us")),
            ]
        )
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
            out["tr_skew"], row_group_size=100_000,
        )
    return out


def run_skew(scale: int = 1, runs: int = 2, spark=None) -> dict:
    """Interleaved uniform/skew timing of the four headline ops; returns
    {op: {uniform, skew, ratio, ok}} and (at scale=1) writes BENCH/SKEW.md."""
    import __spark_entry__ as E
    from qamd_spark import pipeline, session
    from qamd_spark.config import QamdConfig

    paths = skew_inputs(scale)
    own = spark is None
    if own:
        spark = session.get_spark("qamd-skew", master=f"local[{CPUS}]",
                                  shuffle_partitions=32)
    cfg = QamdConfig()
    q = E.queries()

    def t_pipeline(path):
        return pipeline.label(spark.read.parquet(path), cfg).count()

    jobs = {
        "transcript_pipeline": (
            lambda: t_pipeline(paths["tr_uniform"]),
            lambda: t_pipeline(paths["tr_skew"]),
        ),
        "dedup_exact": (
            lambda: q["dedup_exact"](spark, paths["docs_uniform"]).count(),
            lambda: q["dedup_exact"](spark, paths["docs_skew"]).count(),
        ),
        "minhash_dedup": (
            lambda: q["minhash_dedup"](spark, paths["docs_uniform"]).count(),
            lambda: q["minhash_dedup"](spark, paths["docs_skew"]).count(),
        ),
        # post-exact-dedup view on BOTH sides, equal cardinality
        "setsim_join": (
            lambda: q["setsim_join"](spark, paths["docs_uniform_small"]).count(),
            lambda: q["setsim_join"](spark, paths["docs_skew_dedup"]).count(),
        ),
        # r5 (r4 VERDICT item 5): simhash faces the FULL 1e5-copy corpus —
        # its output is a per-doc best match (linear) and its bucket
        # resolution is the bounded two-phase top-P, so the giant
        # identical-signature bucket must collapse map-side, not fan out
        "simhash_neardup": (
            lambda: q["simhash_neardup"](spark, paths["docs_uniform"]).count(),
            lambda: q["simhash_neardup"](spark, paths["docs_skew"]).count(),
        ),
        # levenshtein emits raw qualifying PAIRS, so 1e5 byte-identical
        # copies make the OUTPUT itself quadratic — contract-impossible
        # for any exact pair join (setsim's argument verbatim); it gets
        # the post-exact-dedup view, which still carries the residual
        # torture (90% hot source, shared-vocabulary prefix grams)
        "levenshtein_neardup": (
            lambda: q["levenshtein_neardup"](spark, paths["docs_uniform_small"]).count(),
            lambda: q["levenshtein_neardup"](spark, paths["docs_skew_dedup"]).count(),
        ),
    }
    results = {}
    for name, (fu, fs) in jobs.items():
        fu(); fs()  # warm (codegen + page cache), unmeasured
        tu = ts_ = 1e18
        for _ in range(runs):  # interleaved: same-window honesty
            t0 = time.perf_counter(); fu(); tu = min(tu, time.perf_counter() - t0)
            t0 = time.perf_counter(); fs(); ts_ = min(ts_, time.perf_counter() - t0)
        ratio = ts_ / tu
        results[name] = {
            "uniform_sec": round(tu, 3), "skew_sec": round(ts_, 3),
            "ratio": round(ratio, 3), "ok": ratio <= SKEW_BOUND,
        }
    if own:
        spark.stop()
    if scale == 1:
        rows = "\n".join(
            f"| {n} | {r['uniform_sec']} | {r['skew_sec']} | {r['ratio']} |"
            f" {'PASS' if r['ok'] else 'FAIL'} |"
            for n, r in results.items()
        )
        md = f"""# BENCH/SKEW.md — empirical skew torture (r3 VERDICT item 4)

Same row counts, interleaved min-of-{runs} runs on local[{CPUS}], bound
{SKEW_BOUND}x. Skew corpus: ONE text duplicated {SKEW_DUP_COPIES:,}x, ONE
{SKEW_HOT_CONV_TURNS:,}-turn conversation, one source holding 90% of
{SKEW_TOTAL_DOCS:,} rows. transcript tables ~600k turns each (sf0.1-equiv).
setsim_join compares the post-exact-dedup views of both corpora (equal
cardinality; quadratic pair OUTPUT over 1e5 byte-identical copies is
contract-impossible for any exact pair join and is removed by the
pipeline's exact-dedup stage that always precedes it).

| op | uniform sec | skew sec | ratio | ≤{SKEW_BOUND}x |
|---|---|---|---|---|
{rows}

Why the shapes survive: dedup_exact is a partial-agg min(doc_id) per text
(the 1e5-copy key collapses map-side to one row per task before the
shuffle); minhash_duplicates aggregates min-per-bucket the same way; the
pipeline's conversation stats run on salted sub-keys then re-combine
(salt_buckets={cfg.salt_buckets}), so the 1e5-turn conversation spreads
over {cfg.salt_buckets} tasks; setsim prefix filtering bounds candidate
generation by token-frequency rank, which the 90% source does not touch;
simhash (full skew corpus — its per-doc best-match output stays linear
even over 1e5 identical signatures) resolves the giant bucket through
the salted two-phase top-P partial-min aggregates, which collapse
map-side; levenshtein_neardup (post-dedup view, pair output — same
contract argument as setsim) composite-keys its Ed-Join gram prefix
with the length bin, so the hot source's shared vocabulary cannot fat
one join key alone.
"""
        with open(os.path.join(REPO, "BENCH", "SKEW.md"), "w") as f:
            f.write(md)
    return results


if __name__ == "__main__":
    if "--scaling-big" in sys.argv:
        run_scaling_big()
    elif "--scaling" in sys.argv:
        run_scaling()
    elif "--calibrate" in sys.argv:
        print(json.dumps(calibrate_hardware()))
    elif "--skew" in sys.argv:
        print(json.dumps(run_skew()))
    else:
        print(json.dumps(run_benchmarks()))
