"""Candidate retrieval's inverted token index: the hot-token cap
(operators/candidates.py `apply_hot_token_cap`) and the shared hot-key
guard under it (`hot_keys` + `split_hot`, also used by dedup's
hot-shingle drop)."""

import logging

import pytest
from pyspark.sql import functions as F


def test_hot_token_cap_recomputed_on_filtered_index(spark):
    """A token hot on the any-predicate index but cold under the
    searched predicates must keep its FULL fan-out when the cap is
    re-applied on the restricted frame (round-3 half-closure: the old
    path reused the any-predicate cap and truncated it)."""
    from serimi_rdf_interlinking_spark.config import SerimiConfig
    from serimi_rdf_interlinking_spark.operators.candidates import (
        apply_hot_token_cap,
        raw_token_index,
    )
    from serimi_rdf_interlinking_spark.sources.triples import TRIPLE_SCHEMA

    # token 'zebra' appears under predicate A in 8 distinct subjects
    # (hot vs cap=3) but under predicate B in only 2 (cold)
    rows = [(f"e{i}", "A", f"zebra alpha{i}", False, False) for i in range(8)]
    rows += [(f"f{i}", "B", f"zebra beta{i}", False, False) for i in range(2)]
    target = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    cfg = SerimiConfig(max_candidates_per_token=3)
    raw = raw_token_index(target, None, cfg)

    capped_all = apply_hot_token_cap(raw, cfg)
    assert capped_all.filter("tok = 'zebra'").count() == 3  # hot: capped

    restricted = apply_hot_token_cap(raw.filter(F.col("p") == "B"), cfg)
    # cold under B: full fan-out survives, nothing truncated
    assert restricted.filter("tok = 'zebra'").count() == 2
    # (the stale path — filtering AFTER capping on the any-predicate
    # index — kept at most 3 rows drawn across ALL predicates, so the
    # B-rows could be truncated or dropped entirely)


def _token_cap_rows(spark):
    """apply_hot_token_cap over an index with one hot token."""
    from serimi_rdf_interlinking_spark.config import SerimiConfig
    from serimi_rdf_interlinking_spark.operators import candidates as C
    from serimi_rdf_interlinking_spark.sources.triples import TRIPLE_SCHEMA

    rows = [(f"e{i}", "A", f"zebra alpha{i}", False, False) for i in range(8)]
    target = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    cfg = SerimiConfig(max_candidates_per_token=3)
    raw = C.raw_token_index(target, None, cfg)
    return sorted(map(tuple, C.apply_hot_token_cap(raw, cfg).collect()))


def _hot_shingle_drop_rows(spark):
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

    lit_rows = run(spark)
    monkeypatch.setattr(C, "HOT_LIST_ISIN_MAX", 0)
    join_rows = run(spark)
    assert lit_rows == join_rows


def test_j2_skewed_label_corpus_bounded_fanout_and_recall(spark, caplog):
    """A label token shared by a large fraction of the corpus ('smith'
    across 200 entities; SURVEY §7 skew risk): the cap must bound every
    downstream token join at max_candidates_per_token rows per key,
    log the cap accounting, and — because tier-1 joins only each
    keyword's RAREST token — preserve 100% recall for every keyword
    that has any non-hot token."""
    from serimi_rdf_interlinking_spark.config import SerimiConfig
    from serimi_rdf_interlinking_spark.operators.candidates import (
        build_token_index,
        phrase_hits,
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
    cfg = SerimiConfig(max_candidates_per_token=20, shuffle_partitions=4)
    with caplog.at_level(logging.WARNING):
        idx = build_token_index(target, None, cfg)
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
