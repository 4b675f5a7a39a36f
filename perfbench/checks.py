"""Output checks, run after every timed invocation (outside the timed
region). Each returns None when the output is correct, else a short
reason string."""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq

LABEL_KEYS = ["conv_id", "turn_idx"]


def _sorted_rows(pdf):
    return pdf.sort_values(LABEL_KEYS).reset_index(drop=True)


def check_run(out_dir: str, expected_dir: str, input_path: str) -> str | None:
    """A ``qamd run`` output: every labeled column of every row equals the
    oracle's (so keep, rule_hits and scrubbed_text too), each conversation
    sits in one bucket, manifest counts sum to the totals, and
    summary.json equals the oracle-derived report. ``run_fresh`` and
    ``run_resume`` are both held to this one expectation, so a resumed
    output is identical to a fresh one in every checked field."""
    got = pq.read_table(os.path.join(out_dir, "data")).to_pandas()
    exp = pq.read_table(os.path.join(expected_dir, "labels.parquet")).to_pandas()
    if len(got) != len(exp):
        return f"data has {len(got)} rows, oracle {len(exp)}"
    if (got.groupby("conv_id")["bucket"].nunique() != 1).any():
        return "a conversation spans several buckets"
    got = _sorted_rows(got)
    exp = _sorted_rows(exp)
    for col in exp.columns:
        if col not in got.columns:
            return f"data lacks column {col}"
        a, b = got[col], exp[col]
        if col in ("rule_hits", "pii_hits"):
            a, b = a.map(tuple), b.map(tuple)
        elif col == "ts":
            a, b = a.astype("int64"), b.astype("int64")
        same = (a == b) | (a.isna() & b.isna())
        if not bool(same.all()):
            return f"column {col} differs from the oracle on {int((~same).sum())} rows"

    mdir = os.path.join(out_dir, "_manifests")
    mans = [
        json.load(open(os.path.join(mdir, n)))
        for n in os.listdir(mdir)
        if n.startswith("bucket-") and n.endswith(".json")
    ]
    n_rows = sum(m["n_rows"] for m in mans)
    n_keep = sum(m["n_keep"] for m in mans)
    if n_rows != len(exp) or n_keep != int(exp["keep"].sum()):
        return f"manifests sum to {n_rows} rows / {n_keep} kept"

    with open(os.path.join(out_dir, "summary.json")) as f:
        doc = json.load(f)
    with open(os.path.join(expected_dir, "summary.json")) as f:
        want = json.load(f)
    if doc["metadata"].pop("input", None) != input_path:
        return "summary.json metadata.input is wrong"
    for key in ("metadata", "summary", "locators"):
        if doc.get(key) != want[key]:
            return f"summary.json {key} differs from the oracle"
    return None


def curate_result(out_dir: str) -> dict:
    """Per-stage counts and a digest of the survivor doc_id set."""
    with open(os.path.join(out_dir, "report.json")) as f:
        stages = json.load(f)["stages"]
    ids = pq.read_table(os.path.join(out_dir, "data"), columns=["doc_id"])
    ids = sorted(ids.column("doc_id").to_pylist())
    digest = hashlib.sha256(",".join(map(str, ids)).encode()).hexdigest()
    return {"stages": stages, "n_out": len(ids), "survivors_sha256": digest}


def check_curate(out_dir: str, ref_path: str) -> str | None:
    """A ``qamd curate`` output must match the first invocation's for the
    same seed (recorded in ``ref_path`` on first use)."""
    got = curate_result(out_dir)
    if got["n_out"] == 0:
        return "curate kept no documents"
    if not os.path.exists(ref_path):
        tmp = ref_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(got, f)
        os.replace(tmp, ref_path)
        return None
    with open(ref_path) as f:
        ref = json.load(f)
    if got != ref:
        return "curate stages or survivors differ from the first invocation"
    return None
