"""End-to-end benchmark of the ``qamd_spark`` CLI: ``qamd run`` on a fresh
output, ``qamd run`` resuming a crashed checkpointed run, and
``qamd curate`` with MinHash dedup and the built-in langid.

    python3 perfbench/run.py --workload run_fresh --seed 1 --seconds 5 --trace 0

One process is one closed-loop client: it creates a Spark session at
local[min(4, cores)], then calls ``qamd_spark.main.main([...])`` one
invocation at a time on seeded inputs (the CLI reuses the session through
getOrCreate). Invocations repeat until ``--seconds`` have passed, and
every one is checked against the oracle outside the timed region. The
last stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; ``--trace 1`` reports the per-layer metrics of
perfbench/tracing.py instead of the end-to-end ones. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import platform
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")

sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


# -- session -----------------------------------------------------------------


def session_conf(work: str, event_log: bool) -> dict:
    """Keep Spark's scratch files inside the run's work directory; the
    traced run adds an uncompressed event log (stdlib has no zstd). The
    log is off explicitly otherwise, whatever the Spark defaults say."""
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one plain file
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
    return conf


def confine(work: str) -> None:
    """Point every temporary file of this process and its children (Python
    workers, the launcher and driver JVMs) into ``work``, and size Spark to
    the benchmark's cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())


def setup(work: str, event_log: bool):
    """Import the package and create the session.
    Returns (spark, seconds, get_spark_s)."""
    t0 = time.perf_counter()
    try:
        import qamd_spark.main  # noqa: F401
        import qamd_spark.turnscore  # noqa: F401
        from qamd_spark import session
    except ImportError as e:
        raise SystemExit(f"perfbench: cannot import qamd_spark ({e}); run "
                         "from the root of a qamd_spark checkout")
    t1 = time.perf_counter()
    spark = session.get_spark(
        "perfbench", master=f"local[{cores()}]",
        extra=session_conf(work, event_log),
    )
    t2 = time.perf_counter()
    return spark, t2 - t0, t2 - t1


# -- workloads ---------------------------------------------------------------


class RunFresh:
    name = "run_fresh"

    def __init__(self, inputs, work: str):
        self.inputs = inputs
        self.work = work

    def prepare(self) -> None:
        from inputs import parquet_rows

        self.input = self.inputs.transcripts()
        self.expected = self.inputs.expected()
        self.rows = parquet_rows(self.input)

    def start(self, i: int) -> tuple[list[str], str]:
        out = os.path.join(self.work, f"{self.name}-{i}")
        shutil.rmtree(out, ignore_errors=True)
        return ["run", "--input", self.input, "--output", out], out

    def check(self, out: str) -> str | None:
        import checks

        return checks.check_run(out, self.expected, self.input)


class RunResume(RunFresh):
    name = "run_resume"

    def prepare(self) -> None:
        super().prepare()
        self.crash = self.inputs.crash_state()

    def start(self, i: int) -> tuple[list[str], str]:
        argv, out = super().start(i)
        shutil.copytree(self.crash, out)  # copy2 keeps the manifests valid
        return argv, out


class CurateDocs:
    name = "curate_docs"

    def __init__(self, inputs, work: str):
        self.inputs = inputs
        self.work = work

    def prepare(self) -> None:
        from inputs import parquet_rows

        self.input = self.inputs.documents()
        self.rows = parquet_rows(self.input)
        self.ref = os.path.join(self.inputs.dir, "curate_ref.json")

    def start(self, i: int) -> tuple[list[str], str]:
        out = os.path.join(self.work, f"{self.name}-{i}")
        shutil.rmtree(out, ignore_errors=True)
        return ["curate", "--input", self.input, "--output", out,
                "--dedup", "minhash", "--langs", "en"], out

    def check(self, out: str) -> str | None:
        import checks

        return checks.check_curate(out, self.ref)


WORKLOAD_CLASSES = {c.name: c for c in (RunFresh, RunResume, CurateDocs)}


# -- measurement ---------------------------------------------------------------


class Recorder:
    """Invocations of one workload: timings, checks, windows."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.timed: list[dict] = []
        self.n = 0

    def invoke(self) -> dict:
        from proctree import TreeMeter, steal_s

        from qamd_spark import main

        argv, out = self.wl.start(self.n)
        self.n += 1
        meter = TreeMeter()
        err = None
        meter.start()
        steal0 = steal_s()
        ms0 = time.time() * 1000
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(io.StringIO()):
                rc = main.main(argv)
            if rc != 0:
                err = f"exit code {rc}"
        except (Exception, SystemExit) as e:  # a failed invocation is data
            err = f"{type(e).__name__}: {e}"[:300]
        wall = time.perf_counter() - t0
        ms1 = time.time() * 1000
        steal = steal_s() - steal0
        cpu, rss = meter.stop()
        if err is None:
            err = self.wl.check(out)
        shutil.rmtree(out, ignore_errors=True)
        self.attempted += 1
        rec = {"wall_s": wall, "cpu_s": cpu, "peak_rss_mb": rss,
               "steal_s": steal, "window_ms": (ms0, ms1), "error": err}
        if err is not None:
            self.failed += 1
            self.errors.append(err)
        self.timed.append(rec)
        return rec

    def medians(self) -> dict:
        ok = [r for r in self.timed if r["error"] is None] or self.timed
        wall = statistics.median(r["wall_s"] for r in ok)
        return {
            "wall_s": wall,
            "rows_per_s": self.wl.rows / wall,
            "cpu_s": statistics.median(r["cpu_s"] for r in ok),
            "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in ok),
        }


def measure(rec: Recorder, seconds: float) -> None:
    """Timed invocations until ``seconds`` have passed (at least one)."""
    deadline = time.perf_counter() + seconds
    while not rec.timed or time.perf_counter() < deadline:
        rec.invoke()


UNITS = {"wall_s": "s", "rows_per_s": "rows/s", "cpu_s": "s",
         "peak_rss_mb": "MB", "setup_s": "s"}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict,
                units: dict) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    })


def context(args, inputs, rec, load0, setup_s, elapsed_s) -> dict:
    import pyarrow
    import pyspark

    from inputs import input_bytes

    return {
        "seed": args.seed,
        "workload": args.workload,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "spark_cores": cores(),
        "loadavg_before": load0,
        "loadavg_after": loadavg(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "gen_s": inputs.gen_s,
        "setup_s": setup_s,
        "elapsed_s": elapsed_s,
        "input_rows": rec.wl.rows,
        "input_bytes": input_bytes(rec.wl.input),
        "timed_wall_s": [round(x["wall_s"], 4) for x in rec.timed],
        # CPU time the host gave other guests during each timed invocation,
        # summed over this machine's CPUs: the host-load part of the drift
        "timed_steal_s": [round(x["steal_s"], 2) for x in rec.timed],
        "errors": rec.errors[:3],
    }


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOAD_CLASSES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    load0 = loadavg()
    os.makedirs(CACHE, exist_ok=True)
    work = os.path.join(CACHE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    confine(work)
    spark = None
    try:
        spark, setup_s, get_spark_s = setup(work, event_log=bool(args.trace))
        from inputs import Inputs

        inputs = Inputs(CACHE, args.seed)
        wl = WORKLOAD_CLASSES[args.workload](inputs, work)
        wl.prepare()
        rec = Recorder(wl)
        # the untraced wall time of this (seed, workload), for the tracing
        # overhead a later --trace 1 run reports
        untraced = os.path.join(inputs.dir, f"untraced-{wl.name}.json")
        extra = {}
        if args.trace:
            import tracing

            metrics, units, phases = tracing.traced_run(
                spark, rec, inputs, work, args.seconds, get_spark_s=get_spark_s,
            )
            extra["trace_phases_s"] = phases
            if os.path.exists(untraced):
                with open(untraced) as f:
                    plain = json.load(f)["wall_s"]
                extra["trace_overhead_s"] = metrics["trace.wall_s"] - plain
        else:
            measure(rec, args.seconds)
            metrics, units = dict(rec.medians(), setup_s=setup_s), UNITS
            with open(untraced, "w") as f:
                json.dump({"wall_s": metrics["wall_s"]}, f)
        elapsed = time.perf_counter() - t_start
        ctx = context(args, inputs, rec, load0, setup_s, elapsed)
        print(json.dumps({"context": dict(ctx, **extra)}))
        # fail_frac is failed / attempted of the result line; it is 0 on a
        # healthy run, so it is reported here rather than as a metric
        fail_frac = rec.failed / rec.attempted
        print(json.dumps({"workload": wl.name,
                          "fail_frac": {"value": fail_frac, "unit": "ratio"}}))
        print(f"{wl.name}: " + ", ".join(
            f"{k}={v:.4g} {units[k]}" for k, v in metrics.items()
        ) + f", fail_frac={fail_frac:.3g} ratio", file=sys.stderr)
        print(result_line(rec.failed == 0, rec.attempted, rec.failed, metrics, units))
        return 0
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


def shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for every child
    process (JVM, pyspark daemon, Python workers) to end."""
    from pyspark import SparkContext

    from proctree import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while len(descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


if __name__ == "__main__":
    raise SystemExit(main())
