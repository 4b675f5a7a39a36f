#!/usr/bin/env python3
"""Interleaved A/B(/C) attribution bench for the flagship pipeline.

r2 VERDICT item 1: BENCH_r02 showed transcript_pipeline 12.1 s (r1) ->
18.2 s (r2), but each round's number was a single uninterleaved run on a
host whose throughput drifts up to ~3x between windows — unattributable
as shipped. This script answers the question properly: it checks out the
r1 and r2 code as git worktrees (.ab/r1, .ab/r2), runs the SAME input
through each code version in fresh JVM children, ABAB-interleaved within
ONE session, and reports min-of-trials per version plus pairwise ratios.

Usage: python scripts/ab_flagship.py [--trials N] [--versions r4,head]
(the default compares the round-4 snapshot with the working tree, `head`)
Writes JSON to stdout; meant to be pasted into BENCH/ANALYSIS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

VERSIONS = {
    "r1": os.path.join(REPO, ".ab", "r1"),
    "r2": os.path.join(REPO, ".ab", "r2"),
    # r3a = the round-3 close-out commit before the continuation session
    "r3a": os.path.join(REPO, ".ab", "r3a"),
    # r3 / r4 = the exact end-of-round snapshots the driver benched
    "r3": os.path.join(REPO, ".ab", "r3"),
    "r4": os.path.join(REPO, ".ab", "r4"),
    "head": REPO,
}

CHILD = """
import json, sys, time
sys.path.insert(0, {root!r})
from qamd_spark import pipeline, session
from qamd_spark.config import QamdConfig
spark = session.get_spark('qamd-ab', master='local[{cpus}]', shuffle_partitions={cpus},
                          extra={{'spark.sql.files.maxPartitionBytes': '512k'}})
cfg = QamdConfig()
tpath = {tpath!r}
# warmup: JVM codegen + spawn Python workers
pipeline.label(spark.read.parquet(tpath).limit(20000).repartition({cpus}), cfg).count()
best, n = 1e18, 0
for _ in range(2):
    df = spark.read.parquet(tpath)
    t0 = time.perf_counter()
    n = pipeline.label(df, cfg).count()
    best = min(best, time.perf_counter() - t0)
print(json.dumps({{"sec": round(best, 3), "n": n}}))
spark.stop()
"""


QUERY_CHILD = """
import json, sys, time, importlib.util
sys.path.insert(0, {root!r})
from qamd_spark import session
spec = importlib.util.spec_from_file_location('abq_entry', {root!r} + '/__spark_entry__.py')
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
spark = session.get_spark('qamd-ab', master='local[{cpus}]', shuffle_partitions={cpus})
fns = mod.queries()
results = {{}}
for q in {queries!r}:
    fn = fns[q]
    fn(spark, {sf_dir!r}).count()  # warmup: codegen + Python workers
    best, n = 1e18, 0
    for _ in range(2):
        t0 = time.perf_counter()
        n = fn(spark, {sf_dir!r}).count()
        best = min(best, time.perf_counter() - t0)
    results[q] = {{"sec": round(best, 3), "n": n}}
print(json.dumps(results))
spark.stop()
"""


def run_query_child(root: str, sf_dir: str, cpus: int, queries: list) -> dict:
    code = QUERY_CHILD.format(root=root, sf_dir=sf_dir, cpus=cpus, queries=queries)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=2400
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(out.stderr[-4000:])
        raise RuntimeError(f"query child for {root} produced no result")
    return json.loads(lines[-1])


def run_child(root: str, tpath: str, cpus: int) -> dict:
    code = CHILD.format(root=root, tpath=tpath, cpus=cpus)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=1200
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(out.stderr[-4000:])
        raise RuntimeError(f"child for {root} produced no result")
    return json.loads(lines[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--versions", default="r4,head")
    ap.add_argument(
        "--queries",
        default="",
        help="comma-separated entry query names: time these via queries() "
        "instead of the flagship pipeline (one JVM child per version per "
        "trial runs all of them)",
    )
    args = ap.parse_args()
    sys.path.insert(0, REPO)
    import bench

    tpath = bench.transcripts_path(0.1)
    commits = {
        "r1": "21d4078",
        "r2": "8679ad9",
        "r3a": "ea46a97",
        "r3": "cf3b982",  # round-3 end snapshot (BENCH_r03 code)
        "r4": "886f699",  # round-4 end snapshot (BENCH_r04 code)
    }
    versions = {v: VERSIONS[v] for v in args.versions.split(",")}
    for v, root in versions.items():
        if not os.path.isdir(root) and v in commits:
            subprocess.run(
                ["git", "-C", REPO, "worktree", "add", "-f", root, commits[v]],
                check=True,
            )
        if not os.path.isdir(root):
            raise SystemExit(f"worktree missing for {v}: {root} (git worktree add)")
    t_start = time.time()
    if args.queries:
        qnames = args.queries.split(",")
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        qruns: dict[str, dict[str, list[float]]] = {
            v: {q: [] for q in qnames} for v in versions
        }
        for t in range(args.trials):
            for v, root in versions.items():
                r = run_query_child(root, sf_dir, args.cpus, qnames)
                for q in qnames:
                    qruns[v][q].append(r[q]["sec"])
                print(f"# trial {t} {v}: {r}", file=sys.stderr, flush=True)
        qbest = {v: {q: min(s) for q, s in qs.items()} for v, qs in qruns.items()}
        out = {
            "sf_dir": sf_dir,
            "cpus": args.cpus,
            "trials": args.trials,
            "session_sec": round(time.time() - t_start, 1),
            "all_runs_sec": qruns,
            "best_sec": qbest,
        }
        vs = list(qbest)
        if len(vs) >= 2:
            a, b = vs[0], vs[1]
            out[f"ratio_{b}_vs_{a}"] = {
                q: round(qbest[b][q] / qbest[a][q], 3) for q in qnames
            }
        print(json.dumps(out))
        return
    runs: dict[str, list[float]] = {v: [] for v in versions}
    for t in range(args.trials):
        for v, root in versions.items():  # interleaved: r1,r2,r3,r1,r2,r3,...
            r = run_child(root, tpath, args.cpus)
            runs[v].append(r["sec"])
            print(
                f"# trial {t} {v}: {r['sec']}s (n={r['n']})",
                file=sys.stderr,
                flush=True,
            )
    best = {v: min(s) for v, s in runs.items()}
    out = {
        "input": tpath,
        "cpus": args.cpus,
        "trials": args.trials,
        "session_sec": round(time.time() - t_start, 1),
        "all_runs_sec": runs,
        "best_sec": best,
    }
    vs = list(best)
    for i in range(1, len(vs)):
        out[f"ratio_{vs[i]}_vs_{vs[i-1]}"] = round(best[vs[i]] / best[vs[i - 1]], 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
