"""Round-6 optimization invariants.

Each test pins an equivalence an optimization RELIES on, so a future
change that breaks the fast path's equality (not just its speed) fails
loudly:

* the `(?i)` single-case regex patterns are byte-equivalent to the
  spelled-out `[^A-Za-z0-9]`-style classes (Java CASE_INSENSITIVE
  without UNICODE_CASE folds ASCII only) — incl. Unicode edge chars
  whose LOWERCASE contains ASCII (İ, K), which is exactly the case
  where a lower()-then-match rewrite would diverge;
* the F.expr()-built dot chains produce raw-bit-identical doubles to
  the Column-algebra form across the unroll/fold boundary;
* the single-scan set_operations plan-shape win stays in the plan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

TRICKY = [
    "Hello, World!  multi  space",
    "ÀÉÎ öü ß çñ",              # non-ASCII letters: separators in both
    "İstanbul KKelvin",  # İ and KELVIN SIGN: lowercase
                                    # CONTAINS ascii i/k — the chars a
                                    # lower-then-match rewrite gets wrong
    "under_score-and.dots",
    "123abc DEF456",
    "",
    "   ",
    "!!!",
    "a",
    "ΣΙΣΥΦΟΣ τέλος",
    "tab\tnew\nline",
    "ＡＢＣ fullwidth",
]


@pytest.fixture(scope="module")
def tricky_df(spark):
    return spark.createDataFrame([(t,) for t in TRICKY], "text string")


def _collect(df, col):
    return [r[0] for r in df.select(col.alias("x")).collect()]


def test_case_fold_flag_regex_equivalence(tricky_df):
    pairs = [
        (r"[^A-Za-z0-9]+", r"(?i)[^a-z0-9]+"),
        (r"[^A-Za-z0-9_]", r"(?i)[^a-z0-9_]"),
        (r"[^A-Za-z]", r"(?i)[^a-z]"),
    ]
    for spelled, folded in pairs:
        a = _collect(tricky_df, F.regexp_replace("text", spelled, " "))
        b = _collect(tricky_df, F.regexp_replace("text", folded, " "))
        assert a == b, (spelled, folded)
    # the extract-all alternation used by token_counts' bpe proxy
    a = _collect(
        tricky_df,
        F.regexp_extract_all("text", F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0),
    )
    b = _collect(
        tricky_df,
        F.regexp_extract_all("text", F.lit(r"(?i)[a-z0-9]+|[^a-z0-9\s]"), 0),
    )
    assert a == b


def test_dedup_norm_matches_spelled_out_form(tricky_df):
    from serimi_rdf_interlinking_spark.operators.dedup import _norm, _tokens

    spelled = F.lower(
        F.trim(F.regexp_replace("text", r"[^A-Za-z0-9]+", " "))
    )
    assert _collect(tricky_df, _norm("text")) == _collect(tricky_df, spelled)
    spelled_toks = F.filter(
        F.split(spelled, " "), lambda t: t != F.lit("")
    )
    assert _collect(tricky_df, _tokens("text")) == _collect(
        tricky_df, spelled_toks
    )


@pytest.mark.parametrize("dim", [1, 3, 64, 300])
def test_dot_unrolled_expr_bitparity(spark, dim):
    """The F.expr()-built chain must be RAW-BIT equal to the
    Column-algebra chain on both sides of the MAX_UNROLL_DIM fold
    boundary (300 > 256 exercises the HOF fallback)."""
    import functools
    import operator
    import random

    from serimi_rdf_interlinking_spark.operators.similarity import (
        MAX_UNROLL_DIM,
        _dot,
        dot_unrolled,
    )

    rng = random.Random(dim)
    rows = [
        (
            [rng.uniform(-1, 1) for _ in range(dim)],
            [rng.uniform(-1, 1) for _ in range(dim)],
        )
        for _ in range(50)
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    fast = dot_unrolled("a", "b", dim)  # string names -> expr path
    if dim > MAX_UNROLL_DIM:
        slow = _dot(F.col("a"), F.col("b"))
    else:
        slow = functools.reduce(
            operator.add, [F.col("a")[i] * F.col("b")[i] for i in range(dim)]
        )
    out = df.select(
        F.sum(F.pmod(F.xxhash64(fast), F.lit(10 ** 9))).alias("hf"),
        F.sum(F.pmod(F.xxhash64(slow), F.lit(10 ** 9))).alias("hs"),
    ).collect()[0]
    assert out.hf == out.hs


def test_dot_literal_expr_bitparity_and_nonfinite_fallback(spark):
    import functools
    import operator
    import random

    from serimi_rdf_interlinking_spark.operators.similarity import dot_literal

    rng = random.Random(7)
    dim = 64
    vals = [rng.uniform(-1, 1) for _ in range(dim)]
    vals[3] = 1e-300          # extreme-but-finite literals round-trip
    vals[5] = -0.0
    rows = [([rng.uniform(-1, 1) for _ in range(dim)],) for _ in range(50)]
    df = spark.createDataFrame(rows, "a array<double>")
    fast = dot_literal("a", vals, dim)
    slow = functools.reduce(
        operator.add,
        [F.col("a")[i] * F.lit(float(vals[i])) for i in range(dim)],
    )
    out = df.select(
        F.sum(F.pmod(F.xxhash64(fast), F.lit(10 ** 9))).alias("hf"),
        F.sum(F.pmod(F.xxhash64(slow), F.lit(10 ** 9))).alias("hs"),
    ).collect()[0]
    assert out.hf == out.hs
    # non-finite constants must take the Column fallback, not a broken
    # expr string
    nf = vals[:]
    nf[0] = float("inf")
    col = dot_literal("a", nf, dim)
    got = df.limit(1).select(col.alias("x")).collect()[0].x
    assert got in (float("inf"), float("-inf")) or got != got


def test_set_operations_single_lineitem_scan(spark):
    """Both consumers (hot-part aggregation + the join) must read the
    ONE materialized distinct-pair frame: exactly zero parquet scans of
    lineitem remain in the query plan (the scan happened once, at
    checkpoint time)."""
    import __spark_entry__ as entry

    df = entry.queries()["set_operations"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") >= 2
