"""Seeded benchmark inputs, generated once per (seed, size, generator
version) into a cache directory.

- T: transcripts from ``qamd_spark.synth`` (one 2,000-turn hot
  conversation, 10k-row row groups).
- expected: the pandas oracle's labels for T and the summary.json a
  correct ``qamd run`` must write for it.
- D: one document per conversation of a larger draw from the same
  generator (``doc_id`` plus the non-empty turns joined by a space, no
  ``lang`` column, so ``curate`` runs its built-in langid).
- crash: the pristine crashed state of a checkpointed run over T (56 of
  64 buckets manifested plus the ``_stats`` side tables). It needs Spark,
  so it is built by running this file in a process of its own: the
  benchmark's session stays as cold as on a run that finds it cached.

Every entry is written under a temporary name and renamed into place, so
a run killed mid-generation leaves no half-written cache entry.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

# Bump when any size or generator parameter below changes.
GEN_VERSION = 2
T_CONVS = 1_000  # ~12k turns incl. the hot conversation
D_CONVS = 1_000  # documents
D_FILES = 4  # one input split per core
HOT_TURNS = 2_000
T_ROW_GROUP = 10_000
CRASH_AFTER = 56


class Inputs:
    """Lazily built, cached inputs for one seed. ``gen_s`` accumulates the
    time spent generating in this process (zero on a warm cache)."""

    def __init__(self, cache_root: str, seed: int):
        self.seed = seed
        self.dir = os.path.join(
            cache_root, f"v{GEN_VERSION}-seed{seed}-t{T_CONVS}-d{D_CONVS}"
        )
        os.makedirs(self.dir, exist_ok=True)
        self.gen_s = 0.0

    def _path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def _build(self, name: str, fn) -> str:
        """Return the cached entry ``name``, building it with ``fn(tmp)``
        first if absent."""
        final = self._path(name)
        if not os.path.exists(final):
            tmp = final + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            if os.path.exists(tmp):
                os.remove(tmp)
            t0 = time.perf_counter()
            fn(tmp)
            self.gen_s += time.perf_counter() - t0
            os.replace(tmp, final)
        return final

    # -- transcripts -------------------------------------------------------

    def transcripts(self) -> str:
        from qamd_spark import synth

        return self._build(
            "t.parquet",
            lambda tmp: synth.write_parquet(
                tmp, n_convs=T_CONVS, seed=self.seed,
                hot_conv_turns=HOT_TURNS, row_group_rows=T_ROW_GROUP,
            ),
        )

    def transcripts_pdf(self):
        import pandas as pd

        return pd.read_parquet(self.transcripts())

    def expected(self) -> str:
        """Directory with ``labels.parquet`` (oracle rows) and
        ``summary.json`` (the expected report, ``input`` left out)."""

        def build(tmp: str) -> None:
            from oracle import oracle
            from qamd_spark import schema as S
            from qamd_spark.config import QamdConfig

            os.makedirs(tmp)
            pdf = self.transcripts_pdf()
            cfg = QamdConfig()
            cols = [f.name for f in S.labeled_schema(cfg).fields]
            lab = oracle.label_pdf(pdf, cfg)[[c for c in cols if c != "bucket"]]
            lab.to_parquet(os.path.join(tmp, "labels.parquet"), index=False)
            doc = _expected_summary(pdf, lab, oracle.summary_pdf(lab, cfg))
            with open(os.path.join(tmp, "summary.json"), "w") as f:
                json.dump(doc, f)

        return self._build("expected", build)

    # -- documents ---------------------------------------------------------

    def documents(self) -> str:
        def build(tmp: str) -> None:
            import pyarrow as pa
            import pyarrow.parquet as pq

            from qamd_spark import synth

            pdf = synth.generate(
                n_convs=D_CONVS, seed=self.seed, hot_conv_turns=HOT_TURNS
            )
            pdf = pdf[pdf["text"].notna() & (pdf["text"] != "")]
            docs = (
                pdf.sort_values(["conv_id", "turn_idx"])
                .groupby("conv_id", sort=True)["text"]
                .agg(" ".join)
                .reset_index()
            )
            table = pa.table(
                {
                    "doc_id": docs["conv_id"].str[4:].astype("int64"),
                    "text": docs["text"],
                }
            )
            # a few equal files: a single small file would be one input
            # split, and curate would run on one core
            os.makedirs(tmp)
            step = -(-len(table) // D_FILES)
            for i in range(D_FILES):
                pq.write_table(
                    table.slice(i * step, step),
                    os.path.join(tmp, f"part-{i:02d}.parquet"),
                )

        return self._build("d", build)

    # -- crashed checkpoint state -------------------------------------------

    def crash_state(self) -> str:
        t_path = self.transcripts()
        return self._build(
            "crash",
            lambda tmp: subprocess.run(
                [sys.executable, os.path.abspath(__file__), t_path, tmp],
                check=True, timeout=170,
            ),
        )


def build_crash_state(spark, t_path: str, out: str) -> None:
    from qamd_spark import checkpoint
    from qamd_spark.config import QamdConfig

    # one group job for the 56 buckets, then the crash: the same
    # manifests, _stats and data as groups of 8, in one job not seven
    try:
        checkpoint.run_with_checkpoints(
            spark, t_path, out, QamdConfig(),
            bucket_batch=CRASH_AFTER, fail_after_buckets=CRASH_AFTER,
        )
    except RuntimeError as e:
        if "simulated crash" not in str(e):
            raise
    else:
        raise RuntimeError("crash-state build did not crash")
    n = len(os.listdir(os.path.join(out, "_manifests")))
    if n != CRASH_AFTER or not os.path.isdir(os.path.join(out, "_stats")):
        raise RuntimeError(f"crash state has {n} manifests")


def _files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs
    )


def parquet_rows(path: str) -> int:
    """Rows of a parquet file or of a directory of parquet files."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in _files(path))


def input_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _files(path))


def _expected_summary(pdf, lab, summ) -> dict:
    """The summary.json document ``qamd run`` must write for ``pdf``,
    derived from the oracle (metadata.input excluded)."""
    from qamd_spark.report import LOCATOR_CAP

    meta = {
        "raw_case_count": int(len(pdf)),
        "case_count": int(pdf["conv_id"].nunique()),
        "variable_count": int(len(pdf.columns)),
        "role_occurrences": {
            (None if k != k else k): int(v)
            for k, v in pdf["role"].value_counts(dropna=False).items()
        },
    }
    locs: dict = {}
    keys = zip(lab["conv_id"], lab["turn_idx"], lab["rule_hits"])
    for conv_id, turn_idx, hits in keys:
        for rule in hits:
            locs.setdefault(rule, []).append([conv_id, int(turn_idx)])
    locators = {
        rule: {"n_fail": len(v), "first": sorted(v)[:LOCATOR_CAP]}
        for rule, v in sorted(locs.items())
    }
    summary = [
        {k: (int(v) if k in ("pass", "fail") else v) for k, v in row.items()}
        for row in summ.to_dict("records")
    ]
    return {"metadata": meta, "summary": summary, "locators": locators}


if __name__ == "__main__":
    # python3 inputs.py TRANSCRIPTS OUT: build the crash state of TRANSCRIPTS
    # into OUT in a Spark session of its own
    import run

    t_path, out = sys.argv[1:3]
    work = out + ".work"
    run.confine(work)
    spark = None
    try:
        spark = run.setup(work, event_log=False)[0]
        build_crash_state(spark, t_path, out)
    finally:
        if spark is not None:
            run.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
