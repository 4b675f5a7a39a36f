"""Empirical skew-torture (r3 VERDICT item 4) at pytest scale.

bench.run_skew(scale=10) builds 1/10-size twins of the full torture
corpora (one 10^4-copy duplicate text, one 10^4-turn conversation, one
source holding 90% of 11k docs, ~60k-turn transcript tables) and runs
the four headline ops interleaved uniform/skew on the shared test
session. The full-scale (1e5-copy / 1e5-turn / 600k-turn) run is
`python bench.py --skew`, which writes BENCH/SKEW.md; this marked test
pins the same ≤1.5x contract where CI can afford it.

Host-noise honesty: interleaved min-of-2 per variant (the protocol
BENCH/ANALYSIS.md validated against this sandbox's 3x inter-window
drift); marked `skew` so noisy hosts can deselect.
"""

import pytest

import bench


@pytest.mark.skew
def test_skew_torture_ratios_within_bound(spark):
    results = bench.run_skew(scale=10, runs=2, spark=spark)
    assert set(results) == {
        "transcript_pipeline", "dedup_exact", "minhash_dedup", "setsim_join",
        "simhash_neardup", "levenshtein_neardup",
    }
    bad = {n: r for n, r in results.items() if not r["ok"]}
    assert not bad, f"skew ratio over {bench.SKEW_BOUND}x: {bad}"
