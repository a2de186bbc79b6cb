"""Reference-parity sequential mode: ordered chunk loop with the pivot
FIFO carried across chunks (serimi_class.rb:279-298)."""

import pytest

from serimi_rdf_interlinking_spark.config import SerimiConfig
from serimi_rdf_interlinking_spark.matcher import SerimiMatcher
from serimi_rdf_interlinking_spark.operators.evaluate import evaluate_alignment
from serimi_rdf_interlinking_spark.sources.fixtures import CLASS_CITY


def test_sequential_pivot_mode_quality(spark, fixture_small, triple_dfs):
    src, tgt = triple_dfs
    cfg = SerimiConfig(
        chunk=10, topk=1, mode="sequential", use_pivot=True, shuffle_partitions=4
    )
    res = SerimiMatcher(cfg).run(spark, src, tgt, CLASS_CITY)
    gold = spark.createDataFrame(fixture_small.gold, ["source", "target"])
    prf = evaluate_alignment(res.alignments, gold)
    assert prf.precision >= 0.9, (prf.tp, prf.fp, prf.fn)
    assert prf.recall >= 0.9, (prf.tp, prf.fp, prf.fn)


def test_sequential_matches_batch_when_pivots_off(spark, triple_dfs):
    src, tgt = triple_dfs
    batch = SerimiMatcher(
        SerimiConfig(chunk=10, topk=1, shuffle_partitions=4)
    ).run(spark, src, tgt, CLASS_CITY)
    seq = SerimiMatcher(
        SerimiConfig(chunk=10, topk=1, mode="sequential", shuffle_partitions=4)
    ).run(spark, src, tgt, CLASS_CITY)
    a = {(r.source, r.target) for r in batch.alignments.collect()}
    b = {(r.source, r.target) for r in seq.alignments.collect()}
    assert a == b


def test_sequential_cascade_searches_later_tiers_only_for_misses(
    spark, triple_dfs, mat_boundaries
):
    """A chunk's tier-2 (AND) search runs only when tier 1 missed one
    of its searchable keywords: chunks 1 and 4 of this fixture resolve
    every keyword at tier 1 and materialize no `_p2` frame."""
    src, tgt = triple_dfs
    SerimiMatcher(
        SerimiConfig(chunk=10, topk=1, mode="sequential", shuffle_partitions=4)
    ).run(spark, src, tgt, CLASS_CITY)
    # the three pre-retrieve stages are concurrent jobs, in any order
    assert sorted(mat_boundaries[:3]) == [
        "blocking_ordered", "index_all", "keywords",
    ]
    assert mat_boundaries[3:] == [
        "warm_p1", "warm_p2", "warm_out",
        "seq1_p1", "seq1_out",
        "seq2_p1", "seq2_p2", "seq2_out",
        "seq3_p1", "seq3_p2", "seq3_out",
        "seq4_p1", "seq4_out",
        "scored",
    ]
