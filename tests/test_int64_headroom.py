"""Int64-headroom claims, exercised instead of asserted (r4 VERDICT
item 6): several stat queries document the aggregate scale at which
their exact-bigint arithmetic would overflow and name decimal(38) as
the swap. These tests construct synthetic AGGREGATES just below and
just above each documented bound and pin both halves of the claim:

- just below: the shipped bigint expression equals Python big-int math
  exactly (the bound is not conservative fiction);
- just above: the bigint expression fails loudly under ANSI mode
  (Spark 4 default — overflow throws, never silently wraps into a
  wrong-but-plausible statistic), and the documented decimal(38)
  rewrite of the SAME formula returns the exact value.

The aggregates are one-row DataFrames — the point is the arithmetic
cliff, not the aggregation plumbing (covered by each query's oracle)."""

import pytest
from pyspark.sql import functions as F

I64_MAX = (1 << 63) - 1


def _one_row(spark, **cols):
    vals = tuple(cols.values())
    schema = ", ".join(f"{k} long" for k in cols)
    return spark.createDataFrame([vals], schema)


def _overflows(spark, df, col):
    """True when evaluating `col` raises (ANSI overflow). Returns the
    value otherwise."""
    try:
        return ("ok", df.select(col.alias("v")).collect()[0]["v"])
    except Exception:
        return ("overflow", None)


# --- fleiss_kappa: 3·A·N ≤ 18·N² must stay under 2^63 → N ≈ 7e8 -------

FLEISS_SAFE_N = 700_000_000
FLEISS_OVER_N = 750_000_000  # 18·N² = 1.0125e19 > 2^63


def _fleiss_num_den():
    # the q_fleiss_kappa closed form (n = 3 raters):
    # kappa = (3·A·N − 2·B) / (2·(9·N² − B))
    return (
        3 * F.col("a") * F.col("n") - 2 * F.col("b"),
        2 * (9 * F.col("n") * F.col("n") - F.col("b")),
    )


@pytest.mark.parametrize("N,expect_overflow", [
    (FLEISS_SAFE_N, False),
    (FLEISS_OVER_N, True),
])
def test_fleiss_kappa_headroom(spark, N, expect_overflow):
    # worst-case aggregates at this N: A = 6N (all raters agree on every
    # doc), B = 9N² — exactly the bound expressions in the docstring
    A, B = 6 * N, 9 * N * N
    assert B <= I64_MAX  # B itself fits either way; 3·A·N is the cliff
    df = _one_row(spark, a=A, n=N, b=B)
    num, den = _fleiss_num_den()
    status, got = _overflows(spark, df, num)
    want_num = 3 * A * N - 2 * B
    if expect_overflow:
        # the final value (0 at the all-agree worst case) FITS — the
        # cliff is the intermediate product 3·A·N = 18·N², which is why
        # the failure is loud-by-ANSI rather than a wrong answer
        assert 3 * A * N > I64_MAX
        assert status == "overflow"
        # the documented decimal(38) swap returns the exact value
        d = lambda c: F.col(c).cast("decimal(38,0)")
        dec = df.select(
            (3 * d("a") * d("n") - 2 * d("b")).alias("num"),
            (2 * (9 * d("n") * d("n") - d("b"))).alias("den"),
        ).collect()[0]
        assert int(dec["num"]) == want_num
        assert int(dec["den"]) == 2 * (9 * N * N - B)
    else:
        assert status == "ok" and got == want_num
        st, gd = _overflows(spark, df, den)
        assert st == "ok" and gd == 2 * (9 * N * N - B)


# --- kendall_tau: concordant count C ≤ n²/2 → products of cell counts

def test_kendall_tau_headroom(spark):
    # documented: safe to ~3e9 rows per source. C accumulates products
    # n1·n2 of 2-D histogram cell counts; with all mass in two cells of
    # n/2 each, one product is n²/4 — the largest single term.
    n_safe = 3_000_000_000
    c1 = c2 = n_safe // 2
    df = _one_row(spark, c1=c1, c2=c2)
    st, got = _overflows(spark, df, F.col("c1") * F.col("c2"))
    assert st == "ok" and got == c1 * c2  # 2.25e18 < 2^63
    n_over = 6_200_000_000  # n²/4 = 9.61e18 > 2^63
    o1 = o2 = n_over // 2
    assert o1 * o2 > I64_MAX
    df2 = _one_row(spark, c1=o1, c2=o2)
    st2, _ = _overflows(spark, df2, F.col("c1") * F.col("c2"))
    assert st2 == "overflow"
    d = lambda c: F.col(c).cast("decimal(38,0)")
    got_dec = df2.select((d("c1") * d("c2")).alias("v")).collect()[0]["v"]
    assert int(got_dec) == o1 * o2


# --- runs_test: p2 = 2·n1·n0 is the only int64 product ----------------

def test_runs_test_headroom(spark):
    # q_runs_test computes p2 = 2·n1·n0 and (p2 − n) as exact bigints;
    # the variance products are cast to double BEFORE multiplying, so
    # p2 itself is the int64 site. The documented "safe to ~1.5e9 docs
    # per source" bound sits well inside it: at n = 1.5e9 (n1 = n0 =
    # n/2), p2 = 1.125e18 < 2^63 and the int path is exact.
    n = 1_500_000_000
    n1 = n0 = n // 2
    df = _one_row(spark, n1=n1, n0=n0, n=n)
    p2 = 2 * F.col("n1") * F.col("n0")
    st, got = _overflows(spark, df, p2)
    assert st == "ok" and got == 2 * n1 * n0
    st2, got2 = _overflows(spark, df, p2 - F.col("n"))
    assert st2 == "ok" and got2 == 2 * n1 * n0 - n
    # the true cliff: p2 overflows once n1·n0 > 2^62 (n ≈ 4.3e9 docs
    # balanced) — loud under ANSI, exact under the decimal(38) swap
    b1 = b0 = 2_200_000_000
    assert 2 * b1 * b0 > I64_MAX
    df2 = _one_row(spark, n1=b1, n0=b0, n=b1 + b0)
    st3, _ = _overflows(spark, df2, 2 * F.col("n1") * F.col("n0"))
    assert st3 == "overflow"
    d = lambda c: F.col(c).cast("decimal(38,0)")
    got_dec = df2.select((2 * d("n1") * d("n0")).alias("v")).collect()[0]["v"]
    assert int(got_dec) == 2 * b1 * b0
