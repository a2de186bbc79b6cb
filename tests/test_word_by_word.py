"""J4 — word-by-word fallback tier (opt-in; dead code in the
reference: $word_by_word is never set, search_module.rb:97, so
word_by_word_search (:172-198) never runs — this implements the
intended semantics behind cfg.word_by_word)."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

KW_COLS = ["s", "rank", "chunk_id", "label_idx", "kw", "kw_norm", "searchable"]


def _kw_df(spark, rows):
    schema = T.StructType(
        [
            T.StructField("s", T.StringType()),
            T.StructField("rank", T.LongType()),
            T.StructField("chunk_id", T.LongType()),
            T.StructField("label_idx", T.IntegerType()),
            T.StructField("kw", T.StringType()),
            T.StructField("kw_norm", T.StringType()),
            T.StructField("searchable", T.BooleanType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _index_df(spark, rows):
    return spark.createDataFrame(rows, ["tok", "cand", "p", "norm_o"])


def test_word_hits_tokens_searched_alone(spark):
    from serimi_rdf_interlinking_spark.operators.candidates import word_hits

    kws = _kw_df(
        spark, [("s1", 0, 1, 0, "zy mooria fort", "zy mooria fort", True)]
    )
    idx = _index_df(
        spark,
        [
            ("mooria", "c1", "http://t/name", "mooria village"),
            ("fort", "c2", "http://t/alias", "old fort"),
            ("mooria", "c3", "http://t/other", "mooria other"),
        ],
    )
    tiers = {"http://t/name": 0, "http://t/alias": 1}
    got = {
        (r.word_pos, r.tier, r.cand)
        for r in word_hits(kws, idx, tiers, ()).collect()
    }
    # "zy" (len < 3) skipped; predicates outside the cascade dropped
    assert got == {(1, 0, "c1"), (2, 1, "c2")}


def test_word_hits_stopword_tokens_skipped(spark):
    from serimi_rdf_interlinking_spark.operators.candidates import word_hits

    kws = _kw_df(
        spark, [("s1", 0, 1, 0, "zy mooria fort", "zy mooria fort", True)]
    )
    idx = _index_df(
        spark,
        [
            ("mooria", "c1", "http://t/name", "mooria village"),
            ("fort", "c2", "http://t/name", "old fort"),
        ],
    )
    got = {
        (r.word_pos, r.cand)
        for r in word_hits(kws, idx, {"http://t/name": 0}, ("mooria",)).collect()
    }
    assert got == {(2, "c2")}


def test_select_candidates_tier3_first_passing_token_wins(spark):
    """The reference's outer loop breaks at the first token with a
    passing candidate; within a token, the first-passing predicate
    wins — i.e. min (word_pos, tier)."""
    from serimi_rdf_interlinking_spark.operators.candidates import (
        select_candidates,
    )

    kws = _kw_df(
        spark, [("s1", 0, 1, 0, "zy mooria fort", "zy mooria fort", True)]
    )
    empty_t1 = spark.createDataFrame(
        [],
        "s string, rank long, chunk_id long, label_idx int, kw string, "
        "tier int, cand string",
    )
    p3 = spark.createDataFrame(
        [
            ("s1", 0, 1, 0, "zy mooria fort", 1, 1, "cB"),
            ("s1", 0, 1, 0, "zy mooria fort", 1, 0, "cA"),
            ("s1", 0, 1, 0, "zy mooria fort", 2, 0, "cC"),
        ],
        "s string, rank long, chunk_id long, label_idx int, kw string, "
        "word_pos int, tier int, cand string",
    )
    cr = select_candidates(kws, empty_t1, None, p3)
    assert {r.cand for r in cr.pairs.collect()} == {"cA"}


def test_matcher_word_by_word_noop_when_tiers_hit(spark, triple_dfs):
    """On the golden fixture every keyword resolves at tier 1/2, so
    enabling J4 must not change the alignments."""
    from serimi_rdf_interlinking_spark.config import SerimiConfig
    from serimi_rdf_interlinking_spark.matcher import SerimiMatcher
    from serimi_rdf_interlinking_spark.sources.fixtures import CLASS_CITY

    src, tgt = triple_dfs
    base = SerimiMatcher(
        SerimiConfig(chunk=10, topk=1, shuffle_partitions=4)
    ).run(spark, src, tgt, CLASS_CITY)
    wbw = SerimiMatcher(
        SerimiConfig(chunk=10, topk=1, shuffle_partitions=4, word_by_word=True)
    ).run(spark, src, tgt, CLASS_CITY)
    a = {(r.source, r.target) for r in base.alignments.collect()}
    b = {(r.source, r.target) for r in wbw.alignments.collect()}
    assert a == b and len(a) > 0


def _failed_keyword_frames(spark):
    """(source, target, s_extra, t_extra): the 12-entity fixture plus
    one source whose keyword fails tiers 1-2."""
    from serimi_rdf_interlinking_spark.sources.fixtures import (
        CLASS_CITY,
        build_interlinking_fixture,
    )
    from serimi_rdf_interlinking_spark.sources.triples import TRIPLE_SCHEMA

    fx = build_interlinking_fixture(n_entities=12, seed=3)
    # an extra source whose label shares ONLY the token "quilmont"
    # with its target's literal (no 2-token co-occurrence)
    s_extra = "http://src.test/resource/city/900"
    t_extra = "http://tgt.test/resource/city/900"
    fx.source.append(
        (s_extra, "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         CLASS_CITY, True, False)
    )
    fx.source.append(
        (s_extra, "http://www.w3.org/2000/01/rdf-schema#label",
         "quilmont zzalpha zzbeta", False, False)
    )
    fx.source.append(
        (s_extra, "http://src.test/ontology/country", "argovia", False, False)
    )
    fx.target.append(
        (t_extra, "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         "http://tgt.test/class/Settlement", True, False)
    )
    fx.target.append(
        (t_extra, "http://tgt.test/ontology/name", "quilmont fortress",
         False, False)
    )
    fx.target.append(
        (t_extra, "http://tgt.test/ontology/country", "argovia", False, False)
    )
    src = spark.createDataFrame(fx.source, TRIPLE_SCHEMA)
    tgt = spark.createDataFrame(fx.target, TRIPLE_SCHEMA)
    return src, tgt, s_extra, t_extra


def test_matcher_word_by_word_recovers_failed_keyword(spark):
    """A keyword whose tokens never co-occur in one target literal
    fails tiers 1-2; with word_by_word=True its single shared token
    retrieves the candidate (threshold relaxed so F11 passes on the
    partial label)."""
    from serimi_rdf_interlinking_spark.config import SerimiConfig
    from serimi_rdf_interlinking_spark.matcher import SerimiMatcher
    from serimi_rdf_interlinking_spark.sources.fixtures import CLASS_CITY

    src, tgt, s_extra, t_extra = _failed_keyword_frames(spark)

    def run(wbw):
        cfg = SerimiConfig(
            chunk=20, topk=1, shuffle_partitions=4,
            string_threshold=0.2, word_by_word=wbw,
        )
        res = SerimiMatcher(cfg).run(spark, src, tgt, CLASS_CITY)
        return {(r.source, r.target) for r in res.alignments.collect()}

    without = run(False)
    with_wbw = run(True)
    assert (s_extra, t_extra) not in without
    assert (s_extra, t_extra) in with_wbw


def test_word_by_word_tier_searched_only_when_enabled(spark, mat_boundaries):
    """The word-by-word tier materializes a `_p3` frame only with
    word_by_word=True, and only in a retrieval whose AND tier ran."""
    from serimi_rdf_interlinking_spark.config import SerimiConfig
    from serimi_rdf_interlinking_spark.matcher import SerimiMatcher
    from serimi_rdf_interlinking_spark.sources.fixtures import CLASS_CITY

    src, tgt, _, _ = _failed_keyword_frames(spark)
    tiers_run = {}
    for wbw in (False, True):
        mat_boundaries.clear()
        cfg = SerimiConfig(
            chunk=20, topk=1, shuffle_partitions=4,
            string_threshold=0.2, word_by_word=wbw,
        )
        SerimiMatcher(cfg).run(spark, src, tgt, CLASS_CITY)
        tiers_run[wbw] = list(mat_boundaries)
    assert not [n for n in tiers_run[False] if n.endswith("_p3")]
    p3 = [n[:-3] for n in tiers_run[True] if n.endswith("_p3")]
    assert p3
    assert all(f"{r}_p2" in tiers_run[True] for r in p3)
