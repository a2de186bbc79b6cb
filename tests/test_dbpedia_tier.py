"""dbpedia-target tier end-to-end (F6 yago filter, F13 redirect
expansion, J5 redirect join): entities findable ONLY via a redirect
alias must align to the redirect TARGET, and yago pseudo-class
candidates must never surface.

Reference: serimi_module.rb:82-106 (redirect expansion),
search_module.rb:241 / yago_filter :294-297 (F6). F7 (dbpedia_filter,
:298-304) is dead code in the reference — its only call site (:113) is
commented out because dropping redirect-subjects at search time starves
F13 of the alias candidates it replaces; here it is the opt-in
cfg.drop_redirect_candidates, covered by its own test below.
"""

import pytest

from serimi_rdf_interlinking_spark.config import SerimiConfig
from serimi_rdf_interlinking_spark.matcher import SerimiMatcher
from serimi_rdf_interlinking_spark.operators.candidates import (
    YAGO_PREFIX,
    apply_hot_token_cap,
    raw_token_index,
    search_index,
    target_literals,
)
from serimi_rdf_interlinking_spark.sources.triples import TRIPLE_SCHEMA

LBL = "http://www.w3.org/2000/01/rdf-schema#label"
CLS = "http://src.test/class/Thing"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
NAME = "http://tgt.test/ontology/name"
KIND = "http://tgt.test/ontology/kind"
WIKI_REDIRECT = "http://dbpedia.org/ontology/wikiPageRedirects"


def _entity(i, name, *, alias_only=False, yago_noise=False):
    """One source entity + its target(s). alias_only: the canonical
    target has NO findable label — only the redirect alias carries it."""
    s, t = f"http://s/e{i}", f"http://t/e{i}"
    src = [
        (s, RDF_TYPE, CLS, True, False),
        (s, LBL, name, False, False),
        (s, "http://src.test/ontology/kind", f"kind{i % 3}", False, False),
    ]
    tgt = [
        (t, KIND, f"kind{i % 3}", False, False),
        (t, "http://tgt.test/ontology/uid", f"Q{i}", False, False),
        # constant-valued predicate: keeps the warm-up entropy mean off
        # the all-zero knife edge where NAME's 2e-16 float residue
        # (ln n / ln n) lands above the mean and drops it from the
        # discriminative list — Ruby's identical IEEE754 math has the
        # same behavior, so this is fixture realism, not an engine
        # workaround (real corpora always carry low-entropy predicates).
        (t, "http://tgt.test/ontology/type_label", "place", False, False),
    ]
    if alias_only:
        a = f"http://t/alias{i}"
        tgt += [
            (a, NAME, name, False, False),
            (a, WIKI_REDIRECT, t, True, False),
        ]
    else:
        tgt += [(t, NAME, name, False, False)]
    if yago_noise:
        y = f"{YAGO_PREFIX}Noise{i}"
        tgt += [
            (y, NAME, name, False, False),
            (y, KIND, "yago-shadow", False, False),
        ]
    return src, tgt, (s, t)


NAMES = [
    "korvall deep", "menara heights", "ostrev bank", "pellim ridge",
    "quorra basin", "rendal marsh", "sivetta plain", "tollan moor",
    "umbrin vale", "vastek hollow", "wendara cliffs", "yorvik strand",
]


@pytest.fixture(scope="module")
def dbp_frames(spark):
    src_rows, tgt_rows, gold = [], [], []
    for i, name in enumerate(NAMES):
        s, t, pair = _entity(
            i, name, alias_only=(i % 3 == 1), yago_noise=(i % 4 == 0)
        )
        src_rows += s
        tgt_rows += t
        gold.append(pair)
    return (
        spark.createDataFrame(src_rows, TRIPLE_SCHEMA),
        spark.createDataFrame(tgt_rows, TRIPLE_SCHEMA),
        gold,
    )


def test_dbpedia_batch_end_to_end(spark, dbp_frames):
    source, target, gold = dbp_frames
    cfg = SerimiConfig(
        chunk=4, topk=1, dbpedia_target=True, shuffle_partitions=4
    )
    res = SerimiMatcher(cfg).run(spark, source, target, CLS)
    got = {(r.source, r.target) for r in res.alignments.collect()}

    # F13/J5: alias-only entities align to the redirect TARGET, not the alias
    alias_gold = {g for i, g in enumerate(gold) if i % 3 == 1}
    assert alias_gold <= got, sorted(alias_gold - got)
    # F6: no yago candidate anywhere in the scored output
    all_cands = {r.cand for r in res.scores.collect()}
    assert not any(c.startswith(YAGO_PREFIX) for c in all_cands)
    # and nothing aligns to an alias URI
    assert not any("/alias" in t for _s, t in got)
    # overall quality on this fixture
    assert got >= set(gold), sorted(set(gold) - got)


def test_dbpedia_sequential_redirects(spark, dbp_frames):
    """The sequential driver loop applies F13 too (round-1 gap: the old
    sequential path skipped redirect expansion entirely)."""
    source, target, gold = dbp_frames
    cfg = SerimiConfig(
        chunk=4, topk=1, dbpedia_target=True, mode="sequential",
        shuffle_partitions=4,
    )
    res = SerimiMatcher(cfg).run(spark, source, target, CLS)
    got = {(r.source, r.target) for r in res.alignments.collect()}
    alias_gold = {g for i, g in enumerate(gold) if i % 3 == 1}
    assert alias_gold <= got, sorted(alias_gold - got)
    assert not any("/alias" in t for _s, t in got)


def test_f7_drop_redirect_candidates_flag(spark, dbp_frames):
    """Opt-in F7: redirect-subject literals leave the token index, so
    alias-only entities become unfindable (the trade the reference
    avoided by never calling dbpedia_filter)."""
    _source, target, _gold = dbp_frames
    cfg_off = SerimiConfig(shuffle_partitions=4)
    cfg_on = SerimiConfig(shuffle_partitions=4, drop_redirect_candidates=True)

    def name_index_cands(cfg):
        # the matcher's index steps, with NAME as the learned predicate
        raw = raw_token_index(target_literals(target, cfg))
        idx = search_index(raw, apply_hot_token_cap(raw), [NAME])
        return {r.cand for r in idx.collect()}

    cands_off = name_index_cands(cfg_off)
    cands_on = name_index_cands(cfg_on)
    assert any("/alias" in c for c in cands_off)
    assert not any("/alias" in c for c in cands_on)
    assert "http://t/e0" in cands_on  # non-redirect subjects untouched
