"""Dedup / similarity / text-analysis / sampling operators over the
sf0.001 test tables (documents, embeddings), and the bit-equivalences
their fast paths rely on."""

import logging
import os

import pytest
from conftest import _persistent_rdds
from pyspark.sql import Row
from pyspark.sql import functions as F

from serimi_rdf_interlinking_spark.operators import dedup as D
from serimi_rdf_interlinking_spark.operators import similarity as S
from serimi_rdf_interlinking_spark.operators import textstats as TX
from serimi_rdf_interlinking_spark.operators.dedup import ngram_jaccard_pairs

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_dedup_exact(spark):
    df = spark.createDataFrame(
        [(1, "Hello world"), (2, "hello, WORLD!"), (3, "different text")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: (r.canonical_id, r.n_copies) for r in D.dedup_exact(df).collect()}
    assert out[1] == (1, 2)
    assert out[2] == (1, 2)
    assert out[3] == (3, 1)


def test_ngram_jaccard(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely unrelated content here now"),
        ],
        ["doc_id", "text"],
    )
    pairs = D.ngram_jaccard_pairs(df, threshold=0.3).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]
    # 9 tokens -> 7 shingles each; docs 1,2 share 6 of 8 distinct
    assert pairs[0].jaccard == pytest.approx(6 / 8)


def test_minhash_lsh_finds_near_dups(docs):
    sample = docs.limit(120)
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(sample, threshold=0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(
            sample, num_hashes=12, bands=4, verify_threshold=0.8
        ).collect()
    }
    # LSH is verified by exact jaccard, so it's a subset; with 4 bands
    # high-similarity pairs should nearly all surface
    assert lsh.issubset(exact)
    if exact:
        assert len(lsh) / len(exact) >= 0.8


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),
            (3, "one two three four five six"),
        ],
        ["doc_id", "text"],
    )
    sig = {r.id: r.simhash for r in D.simhash(df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sig[1], sig[2]) <= ham(sig[1], sig[3])
    assert 0 <= sig[1] < 2 ** 16


def test_embedding_near_dup_self(embs):
    # duplicate a vector under a new id -> cos == 1.0 must be found
    first = embs.limit(1).select(
        F.lit(999999).alias("vec_id"), "embedding", "label"
    )
    df = embs.unionByName(first)
    out = D.embedding_near_dup(df, threshold=0.9999)
    rows = out.collect()
    assert any(r.id_b == 999999 and r.cos == pytest.approx(1.0) for r in rows)


def test_embedding_near_dup_srp_default(embs):
    """block_col=None defaults to SRP buckets (not cartesian): an exact
    duplicate lands in the same bucket, so it is always found; every
    reported pair is a true pair of the brute-force result."""
    first = embs.limit(1).select(
        F.lit(999999).alias("vec_id"), "embedding", "label"
    )
    df = embs.unionByName(first)
    srp = D.embedding_near_dup(df, block_col=None, threshold=0.9999)
    rows = srp.collect()
    assert any(r.id_b == 999999 and r.cos == pytest.approx(1.0) for r in rows)
    brute = D.embedding_near_dup(
        df, block_col=None, threshold=0.9999, allow_cartesian=True
    )
    brute_pairs = {(r.id_a, r.id_b) for r in brute.collect()}
    assert {(r.id_a, r.id_b) for r in rows} <= brute_pairs


def test_cosine_topk_and_ann_recall(embs):
    queries = embs.filter(F.col("vec_id") < 8)
    exact = S.cosine_topk(embs, queries, k=5)
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert len(ex) == 8 * 5
    ann = S.ann_lsh_topk(embs, queries, k=5, n_planes=3, multiprobe=1)
    an = {(r.query_id, r.neighbor_id) for r in ann.collect()}
    recall = len(ex & an) / len(ex)
    # multi-probe over 8 buckets: half the scan of brute force on
    # average, recall well above chance (1/8)
    assert recall >= 0.5, recall
    # top-1 self-consistency: the ANN top hit must be a true neighbor set member
    assert all(r.cos <= 1.0 for r in ann.collect())


def test_ann_ivf_recall(embs):
    """IVF with n_probe=2 of 8 cells scans ~1/4 of the corpus; recall
    vs brute force must stay well above that fraction (the quantizer
    adapts cells to the data)."""
    queries = embs.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(embs, queries, k=5).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_ivf_topk(
            embs, queries, k=5, n_centroids=8, n_probe=2
        ).collect()
    }
    assert len(exact & ivf) / len(exact) >= 0.6


def test_cosine_topk_gemm_parity(embs):
    """The BLAS path must return the same neighbor SETS as the
    expression-chain exact path (scores may differ in final ulps due to
    BLAS summation order, so values are compared with tolerance)."""
    queries = embs.filter(F.col("vec_id") < 8)
    exact = S.cosine_topk(embs, queries, k=5).collect()
    gemm = S.cosine_topk_gemm(embs, queries, k=5).collect()
    ex = {(r.query_id, r.neighbor_id) for r in exact}
    gm = {(r.query_id, r.neighbor_id) for r in gemm}
    assert ex == gm
    ex_cos = {(r.query_id, r.neighbor_id): r.cos for r in exact}
    for r in gemm:
        assert r.cos == pytest.approx(ex_cos[(r.query_id, r.neighbor_id)], abs=2e-6)


def test_dot_builders_take_column_names_only(spark):
    """dot_unrolled/dot_literal build their chains from column NAMES; a
    Column argument (alone or mixed with a name) is a TypeError rather
    than a silently malformed expression."""
    for a, b in [(F.col("a"), F.col("b")), ("a", F.col("b")), (F.col("a"), "b")]:
        with pytest.raises(TypeError):
            S.dot_unrolled(a, b, 4)
    with pytest.raises(TypeError):
        S.dot_literal(F.col("a"), [1.0, 2.0], 2)

def test_deterministic_split_properties(docs):
    """Splits are disjoint, exhaustive, repeatable, and roughly sized
    to their fractions; the same key always lands in the same split."""
    from serimi_rdf_interlinking_spark.operators.sampling import (
        deterministic_split,
    )

    fr = {"train": 0.8, "valid": 0.1, "test": 0.1}
    a = deterministic_split(docs, "doc_id", fr)
    b = deterministic_split(docs, "doc_id", fr)
    pa = {r.doc_id: r.split for r in a.collect()}
    pb = {r.doc_id: r.split for r in b.collect()}
    assert pa == pb                      # repeatable
    assert set(pa.values()) <= {"train", "valid", "test"}  # exhaustive
    n = len(pa)
    n_train = sum(1 for v in pa.values() if v == "train")
    assert 0.7 * n <= n_train <= 0.9 * n  # ~fraction-sized


def test_stratified_sample_bounds(docs):
    from pyspark.sql import functions as FF

    from serimi_rdf_interlinking_spark.operators.sampling import (
        stratified_sample,
    )

    strata = docs.withColumn("stratum", FF.pmod(FF.col("doc_id"), FF.lit(4)))
    kept = stratified_sample(strata, "stratum", 0.3, "doc_id")
    per = {
        r.stratum: r.n
        for r in kept.groupBy("stratum").agg(FF.count("*").alias("n")).collect()
    }
    tot = {
        r.stratum: r.n
        for r in strata.groupBy("stratum").agg(FF.count("*").alias("n")).collect()
    }
    for s, n_tot in tot.items():
        frac = per.get(s, 0) / n_tot
        assert 0.15 <= frac <= 0.45, (s, frac)  # ~0.3 within each stratum
    # subset of the input
    assert kept.join(strata, ["doc_id"], "left_anti").count() == 0


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is warm"),
            (2, "der hund ist in dem haus und das ist gut"),
            (3, "um texto de exemplo que fala de coisas em geral para os testes"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.lang_pred for r in TX.language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "pt"}


def test_quality_and_tokens(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox, it jumps!"), (2, "@@ ## !!")],
        ["doc_id", "text"],
    )
    q = {r.doc_id: r for r in TX.quality_score(df).collect()}
    assert q[1].quality > q[2].quality
    t = {r.doc_id: r for r in TX.token_counts(df).collect()}
    assert t[1].ws_tokens == 6
    assert t[1].bpe_ish_tokens == 8  # 6 words + ',' + '!'
    assert t[2].ws_tokens == 3
    fp = TX.fingerprint(df).collect()
    assert all(len(r.fp_exact) == 32 for r in fp)


def test_fingerprint_bow_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "alpha beta delta")],
        ["doc_id", "text"],
    )
    fp = {r.doc_id: r for r in TX.fingerprint(df).collect()}
    assert fp[1].fp_bow == fp[2].fp_bow
    assert fp[1].fp_exact != fp[2].fp_exact
    assert fp[1].fp_bow != fp[3].fp_bow


def test_ngram_hot_shingle_guard_drops_and_logs(spark, caplog):
    """A shingle shared by every doc is dropped by the df-ceiling (with a
    logged count); Jaccard is recomputed over the kept shingle universe."""
    import logging

    common = "alpha beta gamma"  # one hot shingle in every doc
    rows = [(i, f"{common} unique{i} tail{i} end{i}") for i in range(10)]
    rows += [(100, "the quick brown fox jumps"), (101, "the quick brown fox leaps")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    with caplog.at_level(logging.WARNING, logger="serimi_rdf_interlinking_spark.operators.dedup"):
        pairs = D.ngram_jaccard_pairs(df, threshold=0.3, max_shingle_df=5).collect()
    assert any("hot shingles" in r.message for r in caplog.records)
    got = {(r.id_a, r.id_b) for r in pairs}
    # the synthetic near-dup pair survives; the hot-shingle family does
    # not pair up once its only shared shingle is dropped
    assert (100, 101) in got
    assert not any(a < 100 and b < 100 for a, b in got)


def _boiler_corpus(spark):
    """40 docs sharing a 6-token boilerplate header (the web-crawl
    template pathology) + one true near-dup pair with unique content."""
    boiler = "lorem ipsum dolor sit amet consectetur"
    rows = [(f"d{i:02d}", f"{boiler} unique{i} filler{i} token{i}") for i in range(40)]
    rows += [
        ("x1", "alpha beta gamma delta epsilon zeta"),
        ("x2", "alpha beta gamma delta epsilon eta"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_hot_shingle_guard_kills_quadratic_boilerplate(spark, caplog):
    docs = _boiler_corpus(spark)
    with caplog.at_level(logging.WARNING):
        guarded = ngram_jaccard_pairs(
            docs, n=3, threshold=0.3, max_shingle_df=10
        ).collect()
    # the 4 boilerplate shingles (df=40 > 10) are dropped, so the 780
    # template-only pairs vanish; the true near-dup pair survives with
    # its exact Jaccard over the KEPT shingle universe (3 shared of 5)
    assert [(r.id_a, r.id_b, r.jaccard) for r in guarded] == [
        ("x1", "x2", 0.6)
    ]
    assert any("hot shingles" in r.message for r in caplog.records), (
        "drops must be logged — no silent caps"
    )


def test_unguarded_boilerplate_is_quadratic(spark):
    """The counterfactual the guard prevents: without a ceiling the
    template shingles connect every doc pair (40*39/2 = 780 bogus
    near-dups at jaccard 4/10)."""
    docs = _boiler_corpus(spark)
    pairs = ngram_jaccard_pairs(
        docs, n=3, threshold=0.3, max_shingle_df=None
    ).collect()
    assert len(pairs) == 781  # 780 boilerplate pairs + the true pair
    bogus = [r for r in pairs if r.id_a.startswith("d")]
    assert len(bogus) == 780 and all(r.jaccard == 0.4 for r in bogus)


def test_auto_ceiling_is_default_and_matches_explicit(spark):
    """Naive call == explicit max(1000, ceil(0.01*n_docs)) ceiling (the
    'auto' rule), so the skew guard is on by default."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    ceiling = max(1000, -(-n_docs // 100))
    default_rows = sorted(
        map(tuple, ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect())
    )
    explicit_rows = sorted(
        map(
            tuple,
            ngram_jaccard_pairs(
                docs, n=3, threshold=0.5, max_shingle_df=ceiling
            ).collect(),
        )
    )
    assert default_rows == explicit_rows


def test_lsh_verify_is_candidate_bounded(docs):
    """Regression tooth for the round-1 scale-killer: the exact-Jaccard
    verification inside minhash_lsh_pairs must never run the bare
    all-pairs shingle self-join (join keyed on sh alone)."""
    import re

    plan = (
        D.minhash_lsh_pairs(docs.limit(50))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert not re.search(r"Join \w+, \(sh#\d+ = sh#\d+\)\s*$", plan, re.M), (
        "found a bare shingle-equality join (all-pairs verify) in:\n" + plan
    )


def test_minhash_band_key_checkpoint_in_plan(spark):
    """The band-key self-join must consume the CHECKPOINTED band frame
    on both sides (no duplicated signature pipeline): the verify plan
    contains no md5 computation for the band keys — only ExistingRDD
    scans below the bucket join."""
    from serimi_rdf_interlinking_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = minhash_lsh_pairs(docs, num_hashes=12, bands=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # banded + shingle checkpoints: every leaf is an ExistingRDD, and
    # the signature aggregate (min over XOR-mixed md5 longs) is gone
    # from the pair plan
    assert plan.count("Scan parquet") == 0
    assert "xor(" not in plan.lower()


def test_token_index_hot_token_guard(spark, caplog, monkeypatch):
    """apply_hot_token_cap caps tokens whose fan-out exceeds the ceiling
    to a deterministic sample of exactly ceiling rows (never drops them
    to zero — an all-hot-token keyword must stay findable) and logs the
    cap count; cold tokens are untouched."""
    import logging

    from serimi_rdf_interlinking_spark.config import SerimiConfig
    from serimi_rdf_interlinking_spark.operators import candidates as C
    from serimi_rdf_interlinking_spark.operators.candidates import (
        apply_hot_token_cap,
        raw_token_index,
        target_literals,
    )
    from serimi_rdf_interlinking_spark.sources.triples import TRIPLE_SCHEMA

    rows = [
        (f"http://t/e{i}", "http://www.w3.org/2000/01/rdf-schema#label",
         f"hot rare{i}", False, False)
        for i in range(20)
    ]
    tgt = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    monkeypatch.setattr(C, "MAX_CANDIDATES_PER_TOKEN", 10)
    with caplog.at_level(logging.WARNING, logger="serimi_rdf_interlinking_spark.operators.candidates"):
        idx = apply_hot_token_cap(
            raw_token_index(target_literals(tgt, SerimiConfig()))
        )
        got = idx.collect()
    toks = {r.tok for r in got}
    assert any("hot tokens" in r.message for r in caplog.records)
    # fan-out 20 > ceiling 10 -> capped to exactly 10 deterministic rows
    hot_rows = sorted(r.cand for r in got if r.tok == "hot")
    assert len(hot_rows) == 10
    # the sample is the lexicographically smallest cands (deterministic)
    assert hot_rows == sorted(f"http://t/e{i}" for i in range(20))[:10]
    assert "rare0" in toks and "rare19" in toks


def test_matcher_releases_checkpoint_storage(spark):
    """After run(), only the result-backing checkpoint may stay
    persisted — intermediates must release their blocks, so repeated
    matcher runs in one session don't accumulate executor storage."""
    from serimi_rdf_interlinking_spark.config import SerimiConfig
    from serimi_rdf_interlinking_spark.matcher import SerimiMatcher
    from serimi_rdf_interlinking_spark.sources.fixtures import (
        CLASS_CITY,
        build_interlinking_fixture,
    )
    from serimi_rdf_interlinking_spark.sources.triples import TRIPLE_SCHEMA

    fx = build_interlinking_fixture(n_entities=12, seed=3)
    src = spark.createDataFrame(fx.source, TRIPLE_SCHEMA)
    tgt = spark.createDataFrame(fx.target, TRIPLE_SCHEMA)
    cfg = SerimiConfig(shuffle_partitions=4)
    # delta-based: other tests in this shared session may hold their own
    # localCheckpoints; the matcher must add at most ONE (scored).
    before = _persistent_rdds(spark)
    res = SerimiMatcher(cfg).run(spark, src, tgt, CLASS_CITY)
    added = _persistent_rdds(spark) - before
    assert len(added) <= 1, f"matcher leaked checkpoints: {sorted(added)}"
    # the kept checkpoint must still serve the result
    assert res.alignments.count() > 0


def test_matcher_releases_checkpoints_when_run_raises(spark, monkeypatch):
    """A run that raises after its retrieval boundaries were
    materialized leaves none of them persisted."""
    from serimi_rdf_interlinking_spark.config import SerimiConfig
    from serimi_rdf_interlinking_spark.matcher import SerimiMatcher
    from serimi_rdf_interlinking_spark.sources.fixtures import (
        CLASS_CITY,
        build_interlinking_fixture,
    )
    from serimi_rdf_interlinking_spark.sources.triples import TRIPLE_SCHEMA

    fx = build_interlinking_fixture(n_entities=12, seed=3)
    src = spark.createDataFrame(fx.source, TRIPLE_SCHEMA)
    tgt = spark.createDataFrame(fx.target, TRIPLE_SCHEMA)

    def failing_merge(self, cr):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(SerimiMatcher, "_merge_singleton_chunks", failing_merge)
    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="merge failed"):
        SerimiMatcher(SerimiConfig(shuffle_partitions=4)).run(
            spark, src, tgt, CLASS_CITY
        )
    assert _persistent_rdds(spark) - before == set()


def test_dedup_clusters_transitive(spark):
    """a~b and b~c but a!~c directly: one cluster {a,b,c} via closure."""
    base = "the quick brown fox jumps over the lazy dog wearing hats"
    rows = [
        (1, base),
        (2, base + " extra"),               # near-dup of 1
        (3, base + " extra words appended"),  # near-dup of 2 (weaker vs 1)
        (50, "completely unrelated content that is standing alone here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: (r.canonical_id, r.cluster_size)
        for r in D.dedup_clusters(df, verify_threshold=0.5).collect()
    }
    assert out[1] == (1, 3) and out[2] == (1, 3) and out[3] == (1, 3)
    assert out[50] == (50, 1)


def test_pack_documents_greedy(spark):
    """Hand-computed greedy first-fit: capacity 10, docs of 4/5/3/9/2
    tokens in one range -> bins [4+5], [3], [9], [2]? No: greedy packs
    3 after 4+5 overflows? 4+5=9, +3 -> 12 > 10 so bin1 closes at 9;
    bin2 = 3, +9 -> 12 > 10 so bin2 closes at 3; bin3 = 9, +2 -> 11 >
    10 so bin4 = 2. An 11-token doc gets its own (overflowing) bin."""
    rows = [
        (0, "a b c d"),            # 4
        (1, "a b c d e"),          # 5
        (2, "a b c"),              # 3
        (3, "a b c d e f g h i"),  # 9
        (4, "a b"),                # 2
        (5, " ".join("x" * 1 for _ in range(11))),  # 11 > capacity
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: (r.bin_id, r.n_tokens, r.bin_tokens)
        for r in TX.pack_documents(df, max_tokens=10, range_width=100).collect()
    }
    assert out[0] == (0, 4, 9) and out[1] == (0, 5, 9)
    assert out[2] == (1, 3, 3)
    assert out[3] == (2, 9, 9)
    assert out[4] == (3, 2, 2)
    assert out[5] == (4, 11, 11)


# ---------------------------------------------------------------------------
# sampling NULL strata, GEMM id dtypes, the unrolled exact-cosine dot
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

# ---------------------------------------------------------------------------
# fast-path equivalences: the (?i) case-folded regexes equal the
# spelled-out classes (incl. İ / KELVIN SIGN, whose lowercase contains
# ASCII), and the F.expr dot chains are raw-bit equal to Column algebra
# ---------------------------------------------------------------------------


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
    from serimi_rdf_interlinking_spark.functions.columns import (
        norm_text as _norm,
        norm_tokens as _tokens,
    )

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
    # the per-character form the matcher's kw_norm / norm_o were built
    # with: non-word chars and '_' to spaces, then space runs collapsed
    per_char = F.lower(F.trim(F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", r"[^A-Za-z0-9_]", " "), "_", " "
        ),
        r" +", " ",
    )))
    assert _collect(tricky_df, _norm("text")) == _collect(tricky_df, per_char)
    per_char_toks = F.filter(
        F.split(per_char, " "), lambda t: t != F.lit("")
    )
    assert _collect(tricky_df, _tokens("text")) == _collect(
        tricky_df, per_char_toks
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
