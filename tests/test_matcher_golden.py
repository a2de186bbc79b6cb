"""End-to-end golden test: SERIMI matcher on the deterministic synthetic
source/target pair with a known gold alignment (FIXTURES.md §5).

Acceptance per BASELINE.json: P/R >= 0.95 on the fixture workload.
"""

import pytest

from serimi_rdf_interlinking_spark.config import SerimiConfig
from serimi_rdf_interlinking_spark.matcher import SerimiMatcher
from serimi_rdf_interlinking_spark.operators.evaluate import evaluate_alignment
from serimi_rdf_interlinking_spark.sources.fixtures import CLASS_CITY


@pytest.fixture(scope="module")
def match_result(spark, triple_dfs):
    src, tgt = triple_dfs
    cfg = SerimiConfig(chunk=10, topk=1)
    return SerimiMatcher(cfg).run(spark, src, tgt, CLASS_CITY)


def test_matcher_learns_label_property(match_result):
    from serimi_rdf_interlinking_spark.sources.fixtures import RDFS_LABEL

    assert match_result.labels[0] == RDFS_LABEL


def test_matcher_learns_search_predicates(match_result):
    # the target's name predicate must be discovered in the warm-up
    assert any("name" in p for p in match_result.search_predicates)


def test_matcher_precision_recall(spark, fixture_small, match_result):
    gold = spark.createDataFrame(fixture_small.gold, ["source", "target"])
    prf = evaluate_alignment(match_result.alignments, gold)
    assert prf.precision >= 0.95, (prf.tp, prf.fp, prf.fn)
    assert prf.recall >= 0.95, (prf.tp, prf.fp, prf.fn)


def test_scores_have_thresholds(match_result):
    rows = match_result.scores.limit(5).collect()
    assert rows
    for r in rows:
        assert r.threshold is not None


def test_matcher_medium_scale(spark):
    """Batch-mode chunk parallelism at ~20 chunks (400 entities):
    quality holds and wall-clock stays bounded."""
    from serimi_rdf_interlinking_spark.sources.fixtures import (
        build_interlinking_fixture,
    )
    from serimi_rdf_interlinking_spark.sources.triples import TRIPLE_SCHEMA

    fx = build_interlinking_fixture(n_entities=400, seed=11)
    src = spark.createDataFrame(fx.source, TRIPLE_SCHEMA).repartition(8).localCheckpoint()
    tgt = spark.createDataFrame(fx.target, TRIPLE_SCHEMA).repartition(8).localCheckpoint()
    cfg = SerimiConfig(chunk=20, topk=1, shuffle_partitions=8)
    res = SerimiMatcher(cfg).run(spark, src, tgt, CLASS_CITY)
    gold = spark.createDataFrame(fx.gold, ["source", "target"])
    prf = evaluate_alignment(res.alignments, gold)
    assert prf.precision >= 0.95, (prf.tp, prf.fp, prf.fn)
    assert prf.recall >= 0.95, (prf.tp, prf.fp, prf.fn)


def test_matcher_parquet_boundaries_match_default(spark, tmp_path):
    """With checkpoint_dir set, `_mat` writes each stage boundary as a
    parquet table under <checkpoint_dir>/<run_id>/ instead of a
    localCheckpoint; the alignments are those of the default run."""
    import os

    from serimi_rdf_interlinking_spark.sources.fixtures import (
        build_interlinking_fixture,
    )
    from serimi_rdf_interlinking_spark.sources.triples import TRIPLE_SCHEMA

    fx = build_interlinking_fixture(30, seed=7)
    src = spark.createDataFrame(fx.source, TRIPLE_SCHEMA)
    tgt = spark.createDataFrame(fx.target, TRIPLE_SCHEMA)

    def aligned(cfg):
        res = SerimiMatcher(cfg).run(spark, src, tgt, CLASS_CITY)
        return sorted(map(tuple, res.alignments.collect()))

    default = aligned(SerimiConfig(chunk=10, topk=1))
    ckpt = str(tmp_path / "ckpt")
    cfg = SerimiConfig(chunk=10, topk=1, checkpoint_dir=ckpt)
    assert aligned(cfg) == default and default
    for name in ("keywords", "index_all", "chunk_input", "scored"):
        assert os.path.isdir(os.path.join(ckpt, cfg.run_id, name)), name
