"""sf0.01 -> sf0.1 -> sf1 growth curve for the heavy near-dup family:
setsim_join, levenshtein_neardup, dedup_recall_audit and
winnow_containment are the slowest bench queries and the only ones whose
candidate sets could grow superlinearly. This script times them at three
decades of corpus size and reports the empirical per-decade exponent
alpha = log10(t_next / t_prev) (1.0 = linear, 2.0 = quadratic).

sf1 does not exist in /root/testdata, so a 10x documents table is
synthesized deterministically from sf0.1's EMPIRICAL marginals (token
frequencies, per-doc token-count distribution, source/lang shares) with
fresh iid draws — NOT by replicating rows, which would plant 10-clique
near-dup families and corrupt the exponent (a replicated corpus measures
pair-explosion of the replication, not the operator's scaling).

Protocol: one local[32] session; per (sf, op): warm run at the two small
SFs only (JIT is warm by sf1), then min-of-2 (min-of-1 at sf1, budget);
per-op wall cap at sf1. The cap is checked between runs (after each
completes), so it bounds EXTRA runs, not the first — a genuinely
quadratic op's first sf1 run can exceed the cap before being reported;
use an external `timeout(1)` wrapper if a hard wall bound is needed.

Usage: python scripts/growth_curve.py [--cap SECONDS]
Appends a markdown section to BENCH/ANALYSIS.md and prints one JSON line.
"""
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OPS = ["setsim_join", "levenshtein_neardup", "dedup_recall_audit",
       "winnow_containment"]
SF1_DIR = os.path.join(REPO, ".bench_cache", "sf1_docs")


def build_sf1(src="/root/testdata/sf0.1", factor=10, seed=7):
    import random

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(SF1_DIR, "documents.parquet")
    if os.path.exists(out):
        return SF1_DIR
    os.makedirs(SF1_DIR, exist_ok=True)
    base = pd.read_parquet(f"{src}/documents.parquet")
    toks = []
    lens = []
    for t in base["text"].fillna(""):
        ws = t.split()
        lens.append(len(ws))
        toks.extend(ws)
    # empirical token distribution via index sampling (keeps frequencies)
    r = random.Random(seed)
    n = len(base) * factor
    sources = base["source"].tolist()
    langs = base["lang"].tolist()
    rows_t, rows_s, rows_l = [], [], []
    for i in range(n):
        L = lens[r.randrange(len(lens))]
        rows_t.append(" ".join(toks[r.randrange(len(toks))] for _ in range(L)))
        rows_s.append(sources[r.randrange(len(sources))])
        rows_l.append(langs[r.randrange(len(langs))])
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array(range(n), dtype="int64"),
            "text": rows_t,
            "lang": rows_l,
            "source": rows_s,
            "n_chars": pd.array([len(t) for t in rows_t], dtype="int64"),
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), out,
                   row_group_size=20_000)
    return SF1_DIR


def main():
    cap = 1200.0
    if "--cap" in sys.argv:
        cap = float(sys.argv[sys.argv.index("--cap") + 1])
    import __spark_entry__ as E
    from qamd_spark import session

    sf1 = build_sf1()
    tiers = [("sf0.01", "/root/testdata/sf0.01", 500, 2),
             ("sf0.1", "/root/testdata/sf0.1", 5000, 2),
             ("sf1", sf1, 50000, 1)]
    spark = session.get_spark("qamd-growth", master="local[32]",
                              shuffle_partitions=32)
    q = E.queries()
    res = {}
    for op in OPS:
        res[op] = {}
        for name, d, nrows, runs in tiers:
            f = lambda: q[op](spark, d).count()
            if name != "sf1":
                f()  # warm
            best = 1e18
            hit_cap = False
            for _ in range(runs):
                t0 = time.perf_counter()
                f()
                best = min(best, time.perf_counter() - t0)
                if best > cap:
                    hit_cap = True
                    break
            res[op][name] = {"sec": round(best, 3), "n": nrows,
                             "capped": hit_cap}
    spark.stop()
    lines = ["", "## Growth curve: heavy near-dup family "
             "(sf0.01 / sf0.1 / sf1-synth)", "",
             "Empirical per-decade exponent alpha = log10(t_hi/t_lo); 1.0 "
             "linear, 2.0 quadratic. sf1 = 50k docs synthesized from "
             "sf0.1's empirical marginals (scripts/growth_curve.py — fresh "
             "iid draws, not replication).", "",
             "| op | sf0.01 s | sf0.1 s | sf1 s | a(0.01->0.1) | a(0.1->1) |",
             "|---|---|---|---|---|---|"]
    for op in OPS:
        r = res[op]
        a1 = math.log10(r["sf0.1"]["sec"] / r["sf0.01"]["sec"])
        a2 = math.log10(r["sf1"]["sec"] / r["sf0.1"]["sec"])
        cap_note = " (CAPPED)" if r["sf1"]["capped"] else ""
        lines.append(
            f"| {op} | {r['sf0.01']['sec']} | {r['sf0.1']['sec']} | "
            f"{r['sf1']['sec']}{cap_note} | {a1:.2f} | {a2:.2f} |")
    lines.append("")
    with open(os.path.join(REPO, "BENCH", "ANALYSIS.md"), "a") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
