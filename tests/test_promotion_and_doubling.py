"""Sequential-mode searchable-predicate promotion (search_module.rb:
107-108) and O5 adaptive chunk doubling (initializer.rb:106-122).

Hand-computed reference behavior on the fixture below:

* chunk 1 keywords hit ONLY pred B -> $found = B after each keyword,
  so $word_by_word_properties becomes [B, A] for chunk 2;
* chunk 2's ambiguous keyword matches a pred-A literal of candidate X
  AND a pred-B literal of candidate Y. The reference breaks at the
  first predicate with a passing hit: with the promoted order [B, A]
  it retrieves Y and never queries A. A frozen [A, B] cascade (batch
  mode) picks X instead — the round-1 divergence this closes.
"""

import pytest
from pyspark.sql import functions as F

from serimi_rdf_interlinking_spark.config import SerimiConfig
from serimi_rdf_interlinking_spark.matcher import SerimiMatcher
from serimi_rdf_interlinking_spark.operators.blocking import WARMUP_CHUNK
from serimi_rdf_interlinking_spark.operators.candidates import (
    apply_hot_token_cap,
    prepare_keywords,
    raw_token_index,
    search_index,
    target_literals,
)
from serimi_rdf_interlinking_spark.sources.fixtures import (
    CLASS_CITY,
    build_interlinking_fixture,
)
from serimi_rdf_interlinking_spark.sources.triples import TRIPLE_SCHEMA


def test_batch_merges_singleton_chunks(spark):
    """O5 analogue in the batch path: with chunk=1 every post-warm-up
    chunk retrieves ONE source, which RDS alone cannot score (it needs
    a >= 2-group pseudo-class). The singleton-chunk merge must recover
    full recall, matching the sequential loop's double-and-retry."""
    fx = build_interlinking_fixture(n_entities=12, seed=3)
    src = spark.createDataFrame(fx.source, TRIPLE_SCHEMA)
    tgt = spark.createDataFrame(fx.target, TRIPLE_SCHEMA)
    gold = set(fx.gold)
    res = SerimiMatcher(
        SerimiConfig(chunk=1, topk=1, mode="batch", shuffle_partitions=4)
    ).run(spark, src, tgt, CLASS_CITY)
    got = {(r.source, r.target) for r in res.alignments.collect()}
    assert got == gold  # full recall despite all-singleton chunking


LBL = "http://www.w3.org/2000/01/rdf-schema#label"
PRED_A = "http://tgt.test/ontology/name"
PRED_B = "http://tgt.test/ontology/altname"


def _src_triples(pairs):
    return [(s, LBL, kw, False, False) for s, kw in pairs]


def _tgt(s, p, o, uri=False):
    return (s, p, o, uri, False)


def _search_index(target, search_preds, cfg):
    """The matcher's main-retrieval index over `target` for the learned
    `search_preds`: literal view -> raw index -> cap -> restriction."""
    raw = raw_token_index(target_literals(target, cfg))
    return search_index(raw, apply_hot_token_cap(raw), search_preds)


def _ranked_after_warmup(spark, n):
    """Sources http://s/0..n-1 ranked right after the warm-up span, so
    the sequential loop's chunks start at source 0."""
    return spark.createDataFrame(
        [(f"http://s/{i}", i + WARMUP_CHUNK, 0) for i in range(n)],
        ["s", "rank", "chunk_id"],
    )


@pytest.fixture()
def promo_frames(spark):
    """4 sources over 2 chunks of 2; targets as per the module docstring."""
    src_rows = _src_triples(
        [
            ("http://s/0", "korvato prime"),
            ("http://s/1", "velgana reach"),
            ("http://s/2", "melvora station"),
            ("http://s/3", "tandrel spur"),
        ]
    )
    tgt_rows = [
        # chunk-1 targets: labels ONLY under PRED_B
        _tgt("http://t/b0", PRED_B, "korvato prime"),
        _tgt("http://t/b0", PRED_A, "zzz unrelated alpha"),
        _tgt("http://t/b1", PRED_B, "velgana reach"),
        _tgt("http://t/b1", PRED_A, "zzz unrelated beta"),
        # chunk-2 ambiguity: X under PRED_A, Y under PRED_B
        _tgt("http://t/X", PRED_A, "melvora station"),
        _tgt("http://t/X", PRED_B, "zzz filler gamma"),
        _tgt("http://t/Y", PRED_B, "melvora station"),
        _tgt("http://t/Y", PRED_A, "zzz filler delta"),
        # chunk-2 companion (so the chunk has >= 2 groups with data)
        _tgt("http://t/b3", PRED_B, "tandrel spur"),
        _tgt("http://t/b3", PRED_A, "zzz filler epsilon"),
    ]
    source = spark.createDataFrame(src_rows, TRIPLE_SCHEMA)
    target = spark.createDataFrame(tgt_rows, TRIPLE_SCHEMA)
    return source, target, _ranked_after_warmup(spark, 4)


def test_promotion_changes_chunk2_winner(spark, promo_frames):
    source, target, ranked = promo_frames
    cfg = SerimiConfig(chunk=2, shuffle_partitions=4)
    m = SerimiMatcher(cfg)
    keywords = prepare_keywords(source, ranked, [LBL])
    index = _search_index(target, [PRED_A, PRED_B], cfg)

    lits = target_literals(target, cfg)

    rows = m._run_sequential_loop(
        source, target, lits, keywords, index, [PRED_A, PRED_B], [], ()
    )
    cands_s2 = {r[2] for r in rows if r[1] == "http://s/2"}
    assert cands_s2 == {"http://t/Y"}, rows
    # the fold promoted B to the front after chunk 1
    assert m.final_search_order[0] == PRED_B

    # frozen-order control (the batch divergence): same retrieval with
    # tiers fixed at [A, B] picks X for s/2
    cr = m._retrieve(
        keywords.filter(F.col("rank") >= 2 + WARMUP_CHUNK),
        index,
        lits,
        {PRED_A: 0, PRED_B: 1},
        [],
        (),
        "frozen",
    )
    frozen_s2 = {
        r.cand for r in cr.pairs.collect() if r.s == "http://s/2"
    }
    assert frozen_s2 == {"http://t/X"}


def test_adaptive_doubling_rescues_single_group_chunk(spark):
    """Ranks 0-1 form a chunk where only ONE source retrieves data; the
    reference rewinds and doubles the limit so the lone group is scored
    together with ranks 2-3 instead of being dropped."""
    src_rows = _src_triples(
        [
            ("http://s/0", "orlith haven"),
            ("http://s/1", "qqqqq zzzzz"),  # matches nothing
            ("http://s/2", "bremda falls"),
            ("http://s/3", "cindral gate"),
        ]
    )
    tgt_rows = [
        _tgt("http://t/0", PRED_B, "orlith haven"),
        _tgt("http://t/2", PRED_B, "bremda falls"),
        _tgt("http://t/3", PRED_B, "cindral gate"),
    ]
    source = spark.createDataFrame(src_rows, TRIPLE_SCHEMA)
    target = spark.createDataFrame(tgt_rows, TRIPLE_SCHEMA)
    cfg = SerimiConfig(chunk=2, shuffle_partitions=4)
    m = SerimiMatcher(cfg)
    keywords = prepare_keywords(source, _ranked_after_warmup(spark, 4), [LBL])
    index = _search_index(target, [PRED_B], cfg)

    rows = m._run_sequential_loop(
        source, target, target_literals(target, cfg), keywords, index,
        [PRED_B], [], (),
    )
    by_src = {}
    for chunk_id, src, cand, _v, _t, acc in rows:
        by_src.setdefault(src, set()).add((chunk_id, cand, acc))
    # s/0 would have been dropped as a single-group chunk without O5;
    # the doubled chunk scores s/0, s/2, s/3 together under chunk_id 1
    assert by_src["http://s/0"] == {(1, "http://t/0", True)}
    assert (1, "http://t/2", True) in by_src["http://s/2"]
    assert (1, "http://t/3", True) in by_src["http://s/3"]

