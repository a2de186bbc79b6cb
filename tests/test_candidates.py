"""Candidate retrieval (operators/candidates.py): the inverted token
index's hot-token cap (`apply_hot_token_cap`) and the shared hot-key
guard under it (`hot_keys` + `split_hot`, also used by dedup's
hot-shingle drop), the cascade's first-hit rules
(`select_candidates`) and the F11 filter (`f11_passing`)."""

import logging

import pytest
from pyspark.sql import functions as F


def test_hot_token_cap_recomputed_on_filtered_index(spark, monkeypatch):
    """A token hot on the any-predicate index but cold under the
    searched predicates must keep its FULL fan-out when the cap is
    re-applied on the restricted frame (round-3 half-closure: the old
    path reused the any-predicate cap and truncated it)."""
    from serimi_rdf_interlinking_spark.config import SerimiConfig
    from serimi_rdf_interlinking_spark.operators import candidates as C
    from serimi_rdf_interlinking_spark.operators.candidates import (
        apply_hot_token_cap,
        raw_token_index,
        target_literals,
    )
    from serimi_rdf_interlinking_spark.sources.triples import TRIPLE_SCHEMA

    # token 'zebra' appears under predicate A in 8 distinct subjects
    # (hot vs cap=3) but under predicate B in only 2 (cold)
    rows = [(f"e{i}", "A", f"zebra alpha{i}", False, False) for i in range(8)]
    rows += [(f"f{i}", "B", f"zebra beta{i}", False, False) for i in range(2)]
    target = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    monkeypatch.setattr(C, "MAX_CANDIDATES_PER_TOKEN", 3)
    raw = raw_token_index(target_literals(target, SerimiConfig()))

    capped_all = apply_hot_token_cap(raw)
    assert capped_all.filter("tok = 'zebra'").count() == 3  # hot: capped

    restricted = apply_hot_token_cap(raw.filter(F.col("p") == "B"))
    # cold under B: full fan-out survives, nothing truncated
    assert restricted.filter("tok = 'zebra'").count() == 2
    # (the stale path — filtering AFTER capping on the any-predicate
    # index — kept at most 3 rows drawn across ALL predicates, so the
    # B-rows could be truncated or dropped entirely)


def _token_cap_rows(spark, monkeypatch):
    """apply_hot_token_cap over an index with one hot token."""
    from serimi_rdf_interlinking_spark.config import SerimiConfig
    from serimi_rdf_interlinking_spark.operators import candidates as C
    from serimi_rdf_interlinking_spark.sources.triples import TRIPLE_SCHEMA

    rows = [(f"e{i}", "A", f"zebra alpha{i}", False, False) for i in range(8)]
    target = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    monkeypatch.setattr(C, "MAX_CANDIDATES_PER_TOKEN", 3)
    raw = C.raw_token_index(C.target_literals(target, SerimiConfig()))
    return sorted(map(tuple, C.apply_hot_token_cap(raw).collect()))


def _hot_shingle_drop_rows(spark, monkeypatch):
    """ngram_jaccard_pairs over a corpus whose 4 boilerplate shingles
    are above a small max_shingle_df."""
    from serimi_rdf_interlinking_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    boiler = "lorem ipsum dolor sit amet consectetur"
    rows = [(f"d{i:02d}", f"{boiler} unique{i} filler{i}") for i in range(8)]
    rows += [
        ("x1", "alpha beta gamma delta epsilon zeta"),
        ("x2", "alpha beta gamma delta epsilon eta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.3, max_shingle_df=3)
    return sorted(map(tuple, pairs.collect()))


@pytest.mark.parametrize(
    "run",
    [_token_cap_rows, _hot_shingle_drop_rows],
    ids=["token_cap", "hot_shingle_drop"],
)
def test_hot_token_cap_broadcast_membership_path(spark, monkeypatch, run):
    """With the isin ceiling forced to 0 the membership goes through the
    broadcast semi/anti join — results must be identical to the literal
    path, for both callers of the shared hot-key guard."""
    from serimi_rdf_interlinking_spark.operators import candidates as C

    lit_rows = run(spark, monkeypatch)
    monkeypatch.setattr(C, "HOT_LIST_ISIN_MAX", 0)
    join_rows = run(spark, monkeypatch)
    assert lit_rows == join_rows


def test_j2_skewed_label_corpus_bounded_fanout_and_recall(
    spark, caplog, monkeypatch
):
    """A label token shared by a large fraction of the corpus ('smith'
    across 200 entities; SURVEY §7 skew risk): the cap must bound every
    downstream token join at MAX_CANDIDATES_PER_TOKEN rows per key,
    log the cap accounting, and — because tier-1 joins only each
    keyword's RAREST token — preserve 100% recall for every keyword
    that has any non-hot token."""
    from serimi_rdf_interlinking_spark.config import SerimiConfig
    from serimi_rdf_interlinking_spark.operators import candidates as C
    from serimi_rdf_interlinking_spark.operators.candidates import (
        apply_hot_token_cap,
        phrase_hits,
        raw_token_index,
        target_literals,
    )
    from serimi_rdf_interlinking_spark.sources.triples import TRIPLE_SCHEMA

    rows = [
        (f"t{i:03d}", "label", f"smith person{i}", False, False)
        for i in range(200)
    ]
    # a second hot token for the all-hot-keyword case
    rows += [
        (f"u{i:02d}", "label", f"smith common extra{i}", False, False)
        for i in range(30)
    ]
    target = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    monkeypatch.setattr(C, "MAX_CANDIDATES_PER_TOKEN", 20)
    with caplog.at_level(logging.WARNING):
        idx = apply_hot_token_cap(
            raw_token_index(target_literals(target, SerimiConfig()))
        )
        fanout = {
            r.tok: r.n
            for r in idx.groupBy("tok").agg(F.count("*").alias("n")).collect()
        }
    # bounded per-key fan-out: the 230-row 'smith' and 30-row 'common'
    # fan-ins are capped to 20 — no token join key exceeds the cap
    assert fanout["smith"] == 20 and fanout["common"] == 20
    assert max(fanout.values()) <= 20
    assert any("capping" in r.message for r in caplog.records)

    kw_rows = [
        (f"s{i:03d}", 1, 0, 0, f"smith person{i}", f"smith person{i}", True)
        for i in range(200)
    ]
    keywords = spark.createDataFrame(
        kw_rows,
        "s string, rank int, chunk_id int, label_idx int, kw string, "
        "kw_norm string, searchable boolean",
    )
    hits = phrase_hits(keywords, idx, None).collect()
    # full recall despite the hot token: every keyword resolves through
    # its rare token (person{i}, freq 1), never through capped 'smith'
    assert len(hits) == 200
    assert all(h.cand == "t" + h.s[1:] for h in hits)

    # all-hot keyword ('smith common'): the join is bounded by the cap
    # (<= 20 candidate rows), the documented recall trade of capping
    all_hot = spark.createDataFrame(
        [("sx", 1, 0, 0, "smith common", "smith common", True)],
        "s string, rank int, chunk_id int, label_idx int, kw string, "
        "kw_norm string, searchable boolean",
    )
    hot_hits = phrase_hits(all_hot, idx, None).collect()
    assert 0 < len(hot_hits) <= 20
    assert all(h.cand.startswith("u") for h in hot_hits)


KW_SCHEMA = (
    "s string, rank long, chunk_id long, label_idx int, kw string, "
    "kw_norm string, searchable boolean"
)
HIT_SCHEMA = "s string, rank long, chunk_id long, label_idx int, kw string"


def test_select_candidates_tier1_ties_and_label_cascade(spark):
    """Tier 1 keeps every candidate tied at a keyword's lowest predicate
    tier. Per source the lowest label_idx with any candidate wins, and
    `searched` carries all of that label's keywords, searchable or not."""
    from serimi_rdf_interlinking_spark.operators.candidates import (
        select_candidates,
    )

    kws = spark.createDataFrame(
        [
            ("s1", 0, 1, 0, "alpha beta", "alpha beta", True),
            ("s1", 0, 1, 0, "ab", "ab", False),
            ("s1", 0, 1, 1, "alpha alias", "alpha alias", True),
            ("s2", 1, 1, 0, "zeta", "zeta", True),
            ("s2", 1, 1, 1, "gamma delta", "gamma delta", True),
        ],
        KW_SCHEMA,
    )
    p1 = spark.createDataFrame(
        [
            ("s1", 0, 1, 0, "alpha beta", 1, "cA"),
            ("s1", 0, 1, 0, "alpha beta", 1, "cB"),
            ("s1", 0, 1, 0, "alpha beta", 2, "cC"),
            # a lower tier under a later label property never wins
            ("s1", 0, 1, 1, "alpha alias", 0, "cZ"),
            # s2's first label property found nothing: label 1 wins
            ("s2", 1, 1, 1, "gamma delta", 0, "cD"),
        ],
        HIT_SCHEMA + ", tier int, cand string",
    )
    cr = select_candidates(kws, p1)
    assert {(r.s, r.cand) for r in cr.pairs.collect()} == {
        ("s1", "cA"), ("s1", "cB"), ("s2", "cD"),
    }
    assert {(r.s, r.kw) for r in cr.searched.collect()} == {
        ("s1", "alpha beta"), ("s1", "ab"), ("s2", "gamma delta"),
    }


def test_select_candidates_and_nsw_first_hits_union(spark):
    """Tier-2 'and' wins at the lowest tier, then the longest prefix;
    'nsw' wins at its own lowest tier, however low the 'and' winner's
    is; both are unioned with tier 1's picks (search_module.rb:167)."""
    from serimi_rdf_interlinking_spark.operators.candidates import (
        select_candidates,
    )

    kws = spark.createDataFrame(
        [
            ("s1", 0, 1, 0, kw, kw, True)
            for kw in ("alpha beta", "gamma delta eps", "eta theta iota")
        ],
        KW_SCHEMA,
    )
    p1 = spark.createDataFrame(
        [("s1", 0, 1, 0, "alpha beta", 0, "cA")],
        HIT_SCHEMA + ", tier int, cand string",
    )
    p2 = spark.createDataFrame(
        [
            # tier before prefix length: the shorter prefix at tier 0
            # beats the longer one at tier 1
            ("s1", 0, 1, 0, "gamma delta eps", "and", 3, 1, "cF"),
            ("s1", 0, 1, 0, "gamma delta eps", "and", 2, 0, "cD"),
            ("s1", 0, 1, 0, "gamma delta eps", "nsw", 2, 2, "cG"),
            ("s1", 0, 1, 0, "gamma delta eps", "nsw", 2, 3, "cH"),
            # within the lowest tier the longest prefix wins
            ("s1", 0, 1, 0, "eta theta iota", "and", 2, 0, "cI"),
            ("s1", 0, 1, 0, "eta theta iota", "and", 3, 0, "cJ"),
        ],
        HIT_SCHEMA + ", variant string, prefix_len int, tier int, cand string",
    )
    cr = select_candidates(kws, p1, p2)
    assert {r.cand for r in cr.pairs.collect()} == {"cA", "cD", "cG", "cJ"}


def test_f11_passing_textp_modes(spark):
    """F11 keeps a hit, with the hit columns only, when its candidate
    has a literal passing ASM in the target's literal view: textp None
    prunes literals longer than 3*len(kw), textp [] filters nothing, a
    textp list skips its predicates, and a hit whose candidate has no
    literal drops out. A hit with two passing literals (c1) is kept
    once."""
    from serimi_rdf_interlinking_spark.config import SerimiConfig
    from serimi_rdf_interlinking_spark.functions.kernels import asm_passes
    from serimi_rdf_interlinking_spark.operators.candidates import (
        f11_passing,
        target_literals,
    )
    from serimi_rdf_interlinking_spark.sources.triples import TRIPLE_SCHEMA

    A, B, TEXT = "http://t/a", "http://t/b", "http://t/text"
    stopwords = ("the",)
    cfg = SerimiConfig()
    long_lit = "rome the the the the the"  # passes ASM, > 3*len("rome")
    assert asm_passes("rome", long_lit, stopwords, cfg.string_threshold)
    target = spark.createDataFrame(
        [
            ("c1", B, "rome", False, False),
            ("c1", A, "rome", False, False),
            ("c1", A, "zzzz qqqq", False, False),
            ("c2", TEXT, "rome", False, False),
            ("c2", A, "unrelated words", False, False),
            ("c3", A, long_lit, False, False),
            ("c4", A, "http://t/rome", True, False),
        ],
        TRIPLE_SCHEMA,
    )
    hits = spark.createDataFrame(
        [("s1", 0, 1, 0, "rome", 0, f"c{i}") for i in range(1, 5)],
        HIT_SCHEMA + ", tier int, cand string",
    )
    lits = target_literals(target, cfg)

    def passing(textp):
        out = f11_passing(hits, lits, textp, stopwords, cfg)
        assert sorted(out.columns) == sorted(hits.columns)
        return sorted(r.cand for r in out.collect())

    assert passing(None) == ["c1", "c2"]
    assert passing([]) == ["c1", "c2", "c3"]
    assert passing([TEXT]) == ["c1", "c3"]
