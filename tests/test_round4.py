"""Round-4 regression tests: advice fixes (NULL-strata sampling, GEMM
id-dtype derivation, scoped log suppression), the unrolled-dot exact
cosine path, and the dim-independent IVF Lloyd aggregate."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck_con():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ---------------------------------------------------------------------------
# stratified_sample NULL semantics
# ---------------------------------------------------------------------------


def test_stratified_sample_null_stratum_excluded(spark):
    """A NULL stratum (or key) must hash to NULL and be EXCLUDED — the
    SQL '||' NULL-propagation semantics the oracle documents — not
    silently sampled under a different keying (the concat_ws skip)."""
    from serimi_rdf_interlinking_spark.operators.sampling import (
        stratified_sample,
    )

    df = spark.createDataFrame(
        [Row(stratum="a", k=i) for i in range(50)]
        + [Row(stratum=None, k=i) for i in range(50, 80)]
        + [Row(stratum="b", k=None)],
    )
    out = stratified_sample(df, "stratum", 1.0, "k")
    rows = out.collect()
    # fraction 1.0 keeps every NON-NULL row; every NULL-stratum/key row
    # is dropped on both engines identically
    assert len(rows) == 50
    assert all(r.stratum == "a" for r in rows)


# ---------------------------------------------------------------------------
# cosine_topk_gemm: id dtype derived from the input schema
# ---------------------------------------------------------------------------


def test_gemm_string_ids_match_exact_topk(spark):
    """Non-long id columns must flow through GEMM unchanged (the round-3
    schema hardcoded 'long' and failed on string ids)."""
    from serimi_rdf_interlinking_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_gemm,
    )

    import numpy as np

    rng = np.random.RandomState(11)
    rows = [
        Row(vec_id=f"doc{i:03d}", embedding=[float(x) for x in rng.randn(8)])
        for i in range(40)
    ]
    embs = spark.createDataFrame(rows)
    queries = embs.filter(F.col("vec_id") < "doc005")
    exact = cosine_topk(embs, queries, k=3)
    gemm = cosine_topk_gemm(embs, queries, k=3)
    assert dict(gemm.dtypes)["query_id"] == "string"
    assert dict(gemm.dtypes)["neighbor_id"] == "string"
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    g = {(r.query_id, r.neighbor_id) for r in gemm.collect()}
    assert e == g


# ---------------------------------------------------------------------------
# cosine_topk: unrolled codegen dot in the exact pair path
# ---------------------------------------------------------------------------


def test_cosine_topk_pair_path_has_no_interpreted_fold(spark):
    """The pair-scoring hot path must be the unrolled a[0]*b[0]+... chain
    (whole-stage codegen), not the interpreted aggregate(zip_with(...))
    higher-order fold. unit_vec's once-per-vector transform() lambda is
    fine — the assert targets the per-pair fold specifically."""
    from serimi_rdf_interlinking_spark.operators.similarity import cosine_topk

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") < 4)
    plan = _plan(cosine_topk(embs, queries, k=3))
    assert "zip_with" not in plan


def test_cosine_topk_values_unchanged_by_unroll(spark, duck_con):
    """The unrolled chain folds left-to-right exactly like the HOF
    aggregate — rounded cosines must equal the sequential SQL fold."""
    from serimi_rdf_interlinking_spark.operators.similarity import cosine_topk

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") < 4)
    got = {
        (r.query_id, r.neighbor_id): r.cos
        for r in cosine_topk(embs, queries, k=3).collect()
    }
    want = {
        (q, n): c
        for q, n, c in duck_con.execute(
            """
WITH u AS (SELECT vec_id, list_transform(embedding::DOUBLE[], x -> x /
  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS v
  FROM read_parquet('{d}/embeddings.parquet')),
q AS (SELECT vec_id AS query_id, v AS qv FROM u WHERE vec_id < 4),
s AS (SELECT q.query_id, u.vec_id AS neighbor_id,
        round(list_dot_product(q.qv, u.v), 6) AS cos
      FROM q, u WHERE q.query_id <> u.vec_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cos DESC, neighbor_id) AS rk FROM s)
SELECT query_id, neighbor_id, cos FROM r WHERE rk <= 3
""".format(d=SF_DIR)
        ).fetchall()
    }
    assert got == want


def test_append_swap_crash_recovery(spark, tmp_path):
    """The append swap must survive a crash at every protocol point:
    rerunning write_alignments(mode='append') from any intermediate
    state converges to the same merged output."""
    from serimi_rdf_interlinking_spark.sources import alignments as A

    path = str(tmp_path / "out")
    df1 = spark.createDataFrame(
        [("s1", "t1", 0.9), ("s2", "t2", 0.8)], "source string, target string, score double"
    )
    df2 = spark.createDataFrame(
        [("s3", "t3", 0.7)], "source string, target string, score double"
    )
    A.write_alignments(df1, path, mode="overwrite")
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())

    def lines():
        return sorted(r.value for r in spark.read.text(path).collect())

    want = ["s1=t1", "s2=t2", "s3=t3"]

    # crash point 1: a stale partial tmp left over from a dead writer
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(path + A.TMP_SUFFIX))
    A.write_alignments(df2, path, mode="append")
    assert lines() == want
    assert not fs.exists(jvm.org.apache.hadoop.fs.Path(path + A.TMP_SUFFIX))

    # crash point 2: live dir renamed aside, complete tmp not yet moved
    # in (the delete-then-rename hole the round-3 sink had)
    fs.rename(hpath, jvm.org.apache.hadoop.fs.Path(path + A.ASIDE_SUFFIX + "x"))
    # simulate: tmp holds the complete merged output, live is missing,
    # aside holds the old copy
    fs.rename(
        jvm.org.apache.hadoop.fs.Path(path + A.ASIDE_SUFFIX + "x"),
        jvm.org.apache.hadoop.fs.Path(path + A.TMP_SUFFIX),
    )
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(path + A.ASIDE_SUFFIX))
    A.write_alignments(df2, path, mode="append")
    assert lines() == want
    assert not fs.exists(jvm.org.apache.hadoop.fs.Path(path + A.ASIDE_SUFFIX))

    # idempotent rerun converges
    A.write_alignments(df2, path, mode="append")
    assert lines() == want


def test_promote_found_predicate_matches_reference_cascade(spark):
    """cfg.promote_found_predicate derives the promoted predicate from
    the passing description triple ($found, search_module.rb:252-260)
    instead of the searched tier. On the promotion-divergence fixture
    the passing triples live under tgt:alias, so the found-mode cascade
    ends with alias promoted to the front and recall matches the
    searched-tier sequential mode (11/13)."""
    from serimi_rdf_interlinking_spark.config import SerimiConfig
    from serimi_rdf_interlinking_spark.matcher import SerimiMatcher
    from serimi_rdf_interlinking_spark.sources.fixtures import (
        CLASS_CITY,
        build_promotion_divergence_fixture,
    )
    from serimi_rdf_interlinking_spark.sources.triples import TRIPLE_SCHEMA

    fx = build_promotion_divergence_fixture()
    src = spark.createDataFrame(fx.source, TRIPLE_SCHEMA)
    tgt = spark.createDataFrame(fx.target, TRIPLE_SCHEMA)
    gold = set(fx.gold)

    cfg = SerimiConfig(
        chunk=2, topk=1, mode="sequential", shuffle_partitions=4,
        promote_found_predicate=True,
    )
    matcher = SerimiMatcher(cfg)
    res = matcher.run(spark, src, tgt, CLASS_CITY)
    got = {(r.source, r.target) for r in res.alignments.collect()}
    assert got <= gold
    assert len(got & gold) == 11
    # the evolved cascade front is the predicate whose literal PASSED
    # (alias), matching the reference's $found promotion
    assert matcher.final_search_order[0].rsplit("/", 1)[-1] == "alias"


def test_pinned_oracle_doubles_are_bit_exact(spark, duck_con):
    """The driver hashes materialized values STRICTLY — np.allclose
    tolerance in the pytest gate must never hide a literal-parsing ulp
    skew (bare decimal literals parse DECIMAL-first in DuckDB and the
    ::DOUBLE cast double-rounds; _dlit therefore casts from a string).
    This pins bit equality for every serimi_alignment score."""
    import struct

    import __spark_entry__ as E

    sdf = (
        E.queries()["serimi_alignment"](spark, SF_DIR)
        .toPandas()
        .sort_values(["source", "target"])
        .reset_index(drop=True)
    )
    odf = (
        duck_con.execute(E.oracle_sql()["serimi_alignment"])
        .df()
        .sort_values(["source", "target"])
        .reset_index(drop=True)
    )
    assert list(sdf["source"]) == list(odf["source"])
    assert list(sdf["target"]) == list(odf["target"])
    for a, b in zip(sdf["score"], odf["score"]):
        assert struct.pack("<d", a) == struct.pack("<d", b), (a, b)


def test_ivf_lloyd_plan_is_dim_independent(spark):
    """At 512 dims the refinement plan must NOT carry one aggregate
    column per dimension (plan bloat / codegen overrun at 1k+ dims):
    the posexplode + (cluster, pos) average keeps the aggregate list
    constant-width regardless of dim."""
    import numpy as np

    from serimi_rdf_interlinking_spark.operators.similarity import ann_ivf_topk

    rng = np.random.RandomState(5)
    dim = 512
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in rng.randn(dim)])
        for i in range(24)
    ]
    embs = spark.createDataFrame(rows)
    queries = embs.filter(F.col("vec_id") < 2)
    df = ann_ivf_topk(embs, queries, k=3, n_centroids=4, n_probe=2)
    plan = _plan(df)
    # the per-dimension form emitted avg(v[0]) ... avg(v[511]) into the
    # result plan; the array-aggregate Lloyd step now runs EAGERLY
    # inside ann_ivf_topk (its K refined centroids are collected — a
    # bounded n_centroids-row transfer — so both assignment passes
    # become literal argmax projections with no cross join, no
    # vector-carrying groupBy and no window). The returned plan must
    # carry no per-dimension aggregates and no per-query window.
    assert plan.count("avg(") < 20
    assert "row_number" not in plan
    # and it still computes: recall vs brute force isn't asserted here
    # (tiny corpus), just execution end-to-end
    assert df.count() > 0
