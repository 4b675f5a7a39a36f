"""The traced run: per-layer metrics for one workload.

Four sources, all read from the benchmark's side of the program:

1. Spark's own event log (uncompressed, run-local) for the timed CLI
   invocation: jobs, stages, tasks, scan passes, Python-stage tasks and
   skew, Arrow bytes, shuffle/spill bytes, executor run/CPU/GC time.
2. Spans around the eager public functions the invocation calls
   (``checkpoint.run_with_checkpoints`` and the helpers it calls,
   ``report.metadata_stats``, ``report.summary_json``), recorded by
   wrapping the module attributes for the length of the invocation.
3. Isolated calls into each module's public functions on the seed's
   inputs, lazy frames forced with ``.write.format("noop")``; an eager
   function the workload did not call is timed here too.
4. The per-turn kernels timed single-core in this process on a fixed
   10k-row pandas batch of the transcripts.

The traced invocation is the first of its session, like the timed one of
an untraced run; the difference between their wall times is the tracing
overhead.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

KERNEL_ROWS = 10_000
KERNEL_REPEAT = 3
IMPORT_REPEAT = 3


# -- event log -----------------------------------------------------------------


def read_events(log_dir: str) -> list[dict]:
    """All events of the single application logged under ``log_dir``
    (one plain, uncompressed file), in order."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    with open(os.path.join(log_dir, name)) as f:
        return [json.loads(line) for line in f if line.strip()]


_SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


def _int(v) -> int | None:
    s = str(v)
    return int(s) if s.lstrip("-").isdigit() else None


class EventLog:
    def __init__(self, events: list[dict]):
        self.jobs: dict[int, float] = {}  # job id -> submission ms
        self.stages: dict[int, dict] = {}  # stage id -> end ms, accumulables
        self.tasks: dict[int, list[dict]] = {}  # stage id -> task metrics
        self.scan_rows: set[int] = set()  # accumulator ids
        self.to_python: set[int] = set()
        self.from_python: set[int] = set()
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                self.jobs[e["Job ID"]] = e["Submission Time"]
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if "Failure Reason" in info:
                    continue
                acc = {a["ID"]: _int(a.get("Value")) for a in info.get("Accumulables", [])}
                self.stages[info["Stage ID"]] = {
                    "end": info["Completion Time"],
                    "acc": {k: v for k, v in acc.items() if v is not None},
                }
            elif kind == "SparkListenerTaskEnd":
                if e["Task End Reason"]["Reason"] == "Success" and e.get("Task Metrics"):
                    self.tasks.setdefault(e["Stage ID"], []).append(e["Task Metrics"])
            elif kind in _SQL_PLAN_EVENTS:
                self._walk(e["sparkPlanInfo"])

    def _walk(self, node: dict) -> None:
        name = node.get("nodeName", "")
        for m in node.get("metrics", []):
            acc, mname = m["accumulatorId"], m["name"]
            if name.startswith("Scan ") and mname == "number of output rows":
                self.scan_rows.add(acc)
            elif mname == "data sent to Python workers":
                self.to_python.add(acc)
            elif mname == "data returned from Python workers":
                self.from_python.add(acc)
        for child in node.get("children", []):
            self._walk(child)

    def window(self, ms0: float, ms1: float, input_rows: int, cores: int):
        """Metrics of the stages that completed inside [ms0, ms1], and the
        rows all file scans produced there."""
        sids = [s for s, st in self.stages.items() if ms0 <= st["end"] <= ms1]
        tasks = [t for s in sids for t in self.tasks.get(s, [])]

        def acc_total(ids: set[int]) -> int:
            # stage accumulables carry each accumulator's running total,
            # so the largest value seen in the window is its final value
            final: dict[int, int] = {}
            for s in sids:
                for a, v in self.stages[s]["acc"].items():
                    if a in ids:
                        final[a] = max(final.get(a, 0), v)
            return sum(final.values())

        def run_ms(stage: int) -> list[int]:
            return [t["Executor Run Time"] for t in self.tasks.get(stage, [])]

        py_stages = [s for s in sids if self.to_python & self.stages[s]["acc"].keys()]
        skew = 1.0
        if py_stages:
            runs = run_ms(max(py_stages, key=lambda s: sum(run_ms(s))))
            if runs and statistics.median(runs) > 0:
                skew = max(runs) / statistics.median(runs)
        run_s = sum(t["Executor Run Time"] for t in tasks) / 1e3
        scan_rows = acc_total(self.scan_rows)
        return {
            "spark.jobs": sum(1 for t in self.jobs.values() if ms0 <= t <= ms1),
            "spark.stages": len(sids),
            "spark.tasks": len(tasks),
            "spark.input_passes": scan_rows / input_rows,
            "spark.python_stage.tasks": sum(len(run_ms(s)) for s in py_stages),
            "spark.python_stage.task_skew": skew,
            "spark.arrow_bytes_to_python": acc_total(self.to_python),
            "spark.arrow_bytes_from_python": acc_total(self.from_python),
            "spark.shuffle_write_bytes": sum(
                t["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in tasks),
            "spark.spill_bytes": sum(t["Disk Bytes Spilled"] for t in tasks),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(t["Executor CPU Time"] for t in tasks) / 1e9,
            "spark.gc_s": sum(t["JVM GC Time"] for t in tasks) / 1e3,
            "spark.idle_core_frac": 1.0 - run_s / ((ms1 - ms0) / 1e3 * cores),
        }, scan_rows


# -- spans around eager calls ---------------------------------------------------


# (module, function) pairs the CLI calls eagerly; a span is their wall time
SPANNED = (
    ("checkpoint", "run_with_checkpoints"),
    ("checkpoint", "input_fingerprint"),
    ("checkpoint", "global_stats_tables"),
    ("report", "metadata_stats"),
    ("report", "summary_json"),
)


class Spans:
    """While entered, the first call of each SPANNED function is recorded
    as ``{"ms0", "ms1", "s", "result"}``, plus ``"written"`` (count and
    bytes of the data files it created) for ``checkpoint.run_with_checkpoints``."""

    def __init__(self):
        self.calls: dict[str, dict] = {}
        self._saved: list[tuple] = []

    def __enter__(self):
        import importlib

        for mod_name, fn_name in SPANNED:
            mod = importlib.import_module(f"qamd_spark.{mod_name}")
            fn = getattr(mod, fn_name)
            self._saved.append((mod, fn_name, fn))
            setattr(mod, fn_name, self._wrap(f"{mod_name}.{fn_name}", fn))
        return self

    def _wrap(self, name: str, fn):
        def spanned(*args, **kwargs):
            ns0 = time.time_ns()
            t0 = time.perf_counter()
            result = fn(*args, **kwargs)
            if name not in self.calls:
                self.calls[name] = {
                    "ms0": ns0 / 1e6, "ms1": time.time() * 1000,
                    "s": time.perf_counter() - t0, "result": result,
                }
                if name == "checkpoint.run_with_checkpoints":
                    # before the caller's output check deletes the output
                    self.calls[name]["written"] = _written(args[2], ns0)
            return result

        return spanned

    def __exit__(self, *exc):
        for mod, fn_name, fn in self._saved:
            setattr(mod, fn_name, fn)
        self._saved = []
        return False


# -- isolated layer timings ----------------------------------------------------


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _median_timed(fn, n: int) -> float:
    return statistics.median(_timed(fn) for _ in range(n))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def kernel_timings(t_path: str) -> dict:
    """Single-core per-row cost of the scoring sub-kernels on a fixed
    10k-row batch (the first rows of the transcripts file)."""
    import pandas as pd

    from qamd_spark import ngram, turnscore
    from qamd_spark.config import QamdConfig
    from qamd_spark.rules import pii

    cfg = QamdConfig()
    pdf = pd.read_parquet(t_path).iloc[:KERNEL_ROWS].reset_index(drop=True)
    if len(pdf) < KERNEL_ROWS:
        raise RuntimeError(f"transcripts hold {len(pdf)} < {KERNEL_ROWS} rows")
    text = pdf["text"]

    def us(fn) -> float:
        return _median_timed(fn, KERNEL_REPEAT) / len(pdf) * 1e6

    m = {
        "turnscore.score_pdf.us_per_row": us(lambda: turnscore.score_pdf(pdf, cfg)),
        "turnscore.normalize_series.us_per_row": us(
            lambda: turnscore.normalize_series(text)),
        "turnscore.odd_char_counts.us_per_row": us(
            lambda: turnscore.odd_char_counts(text, cfg.odd_chars)),
        "ngram.score_texts.us_per_row": us(lambda: ngram.score_texts(text.tolist())),
        "rules.pii.scrub_series.us_per_row": us(
            lambda: pii.scrub_series(text, cfg.pii_pattern_names, cfg.profanity_rx)),
    }
    whole = m["turnscore.score_pdf.us_per_row"]
    m["turnscore.other.us_per_row"] = whole - (sum(m.values()) - whole)
    return m


def ngram_import_s(root: str) -> float:
    """Median time to import qamd_spark.ngram (table build included) in a
    fresh interpreter, numpy already loaded."""
    code = (
        "import sys, time; sys.path.insert(0, sys.argv[1]); import numpy; "
        "t = time.perf_counter(); import qamd_spark.ngram; "
        "print(time.perf_counter() - t)"
    )
    samples = []
    for _ in range(IMPORT_REPEAT):
        out = subprocess.run(
            [sys.executable, "-c", code, root], capture_output=True, text=True,
            check=True, timeout=120,
        )
        samples.append(float(out.stdout.split()[-1]))
    return statistics.median(samples)


def _written(out_dir: str, ns0: int) -> tuple[int, int]:
    """Count and bytes of the data files under ``out_dir`` modified at or
    after ``ns0``."""
    stats = [
        os.stat(os.path.join(r, f))
        for r, _d, fs in os.walk(os.path.join(out_dir, "data"))
        for f in fs
    ]
    new = [st.st_size for st in stats if st.st_mtime_ns >= ns0]
    return len(new), sum(new)


def layer_timings(spark, inputs, spans: Spans, work: str) -> dict:
    """Isolated calls into each module on the seed's inputs, plus every
    SPANNED function the traced invocation did not call (the call is
    added to ``spans``)."""
    from pyspark.sql import functions as F

    from inputs import input_bytes
    from qamd_spark import checkpoint, io, lineage, pipeline, report
    from qamd_spark.config import QamdConfig
    from qamd_spark.ops import dedup as dd
    from qamd_spark.ops import text as tx

    cfg = QamdConfig()
    t_path = inputs.transcripts()
    m: dict = {"io.input_bytes": input_bytes(t_path)}
    m["io.read_table.s"] = _timed(lambda: _noop(io.read_table(spark, t_path)))
    df = io.normalize_input(io.read_table(spark, t_path))
    t0 = time.perf_counter()
    m["pipeline.text_stats.rows_out"] = pipeline.text_stats(df).count()
    m["pipeline.text_stats.s"] = time.perf_counter() - t0
    m["pipeline.conv_stats.s"] = _timed(lambda: _noop(pipeline.conv_stats(df)))
    m["pipeline.score_stage.s"] = _timed(lambda: _noop(pipeline.score_stage(df, cfg)))
    # forced by a parquet write, which the lineage and report timings read
    labeled_dir = os.path.join(work, "layers-labeled")
    m["pipeline.label.s"] = _timed(
        lambda: pipeline.label(df, cfg).write.mode("overwrite").parquet(labeled_dir))
    labeled = spark.read.parquet(labeled_dir)
    m["lineage.per_bucket.s"] = _timed(lambda: _noop(lineage.per_bucket(labeled, cfg)))
    m["report.summarize.s"] = _timed(lambda: report.summarize(labeled, cfg).collect())
    m["report.locators.s"] = _timed(lambda: report.locators(labeled).collect())

    with spans:  # the eager calls this workload's invocation did not make
        if "checkpoint.run_with_checkpoints" not in spans.calls:
            out = os.path.join(work, "layers-ckpt")
            checkpoint.run_with_checkpoints(spark, t_path, out, cfg)
        if "checkpoint.input_fingerprint" not in spans.calls:
            checkpoint.input_fingerprint(spark, t_path)
        if "checkpoint.global_stats_tables" not in spans.calls:
            checkpoint.global_stats_tables(
                spark, df, os.path.join(work, "layers-stats"), cfg,
                checkpoint.input_fingerprint(spark, t_path),
                checkpoint.config_fingerprint(cfg))
        meta: dict = {"input": t_path}
        if "report.metadata_stats" not in spans.calls:
            meta.update(report.metadata_stats(io.read_table(spark, t_path)))
        if "report.summary_json" not in spans.calls:
            report.summary_json(labeled, cfg, meta, include_locators=True)

    docs = spark.read.parquet(inputs.documents()).select(
        F.col("doc_id").cast("long"), "text")
    norm = docs.withColumn("text", tx.normalize_ws(F.col("text")))
    m["ops.text.normalize_ws.s"] = _timed(lambda: _noop(norm))
    t0 = time.perf_counter()
    m["ops.dedup.minhash_duplicates.pairs_out"] = dd.minhash_duplicates(norm).count()
    m["ops.dedup.minhash_duplicates.s"] = time.perf_counter() - t0
    spark.catalog.clearCache()  # minhash persists its band table
    m["ops.text.quality_score.s"] = _timed(
        lambda: _noop(norm.filter(tx.quality_score(F.col("text")) >= F.lit(0.5))))
    for d in ("layers-labeled", "layers-ckpt", "layers-stats"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    return m


# -- the traced run ------------------------------------------------------------


def traced_run(spark, rec, inputs, work: str, seconds: float, get_spark_s: float):
    """Time the workload with the event log on and spans around its eager
    calls, then run the isolated layer and kernel timings. Returns
    (metrics, units, phase seconds)."""
    import run
    from inputs import parquet_rows

    phases = {}
    t = time.perf_counter()
    spans = Spans()
    with spans:
        run.measure(rec, seconds)
    phases["traced"], t = time.perf_counter() - t, time.perf_counter()
    layers = layer_timings(spark, inputs, spans, work)
    phases["layers"], t = time.perf_counter() - t, time.perf_counter()
    kernels = kernel_timings(inputs.transcripts())
    phases["kernels"], t = time.perf_counter() - t, time.perf_counter()

    ckpt = spans.calls["checkpoint.run_with_checkpoints"]
    spark.stop()  # flushes and closes the event log
    log = EventLog(read_events(os.path.join(work, "eventlog")))
    per_inv = [
        log.window(*r["window_ms"], rec.wl.rows, run.cores())[0]
        for r in rec.timed
    ]
    spark_m = {k: statistics.median(w[k] for w in per_inv) for k in per_inv[0]}
    _w, scanned = log.window(
        ckpt["ms0"], ckpt["ms1"], parquet_rows(inputs.transcripts()), run.cores())
    labeled_rows = sum(w.n_rows for w in ckpt["result"])

    metrics = {
        "session.get_spark.s": get_spark_s,
        "ngram.import.s": ngram_import_s(run.ROOT),
        **layers,
        **{f"{k}.s": c["s"] for k, c in spans.calls.items()},
        "checkpoint.files_written": ckpt["written"][0],
        "checkpoint.bytes_written": ckpt["written"][1],
        "checkpoint.useful_scan_frac": labeled_rows / scanned if scanned else 0.0,
        **kernels,
        **spark_m,
        "trace.wall_s": statistics.median(r["wall_s"] for r in rec.timed),
    }
    phases["event_log_and_import"] = time.perf_counter() - t
    return metrics, {k: unit_of(k) for k in metrics}, phases


def unit_of(name: str) -> str:
    if name.endswith(".us_per_row"):
        return "us/row"
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_frac", "task_skew", "input_passes")):
        return "ratio"
    return "count"
