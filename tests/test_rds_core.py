"""Tests for the per-chunk SERIMI disambiguation core (SURVEY.md §2.4).

Hand-computed expectations follow the reference formulas
(serimi_class.rb / initializer.rb); see each case's comment.
"""

import math
from collections import deque

import pytest

from serimi_rdf_interlinking_spark.operators import rds_core as R


def T(s, p, o, uri=False):
    return (s, p, o, uri)


def test_get_text_properties():
    g = [[T("s1", "p:short", "x"), T("s1", "p:long", "y" * 401)]]
    assert R.get_text_properties(g) == ["p:long"]
    # duplicate triples counted once
    g2 = [[T("s1", "p:long", "y" * 401)], [T("s1", "p:long", "y" * 401)]]
    assert R.get_text_properties(g2) == ["p:long"]


def test_entropy_single_group_multiplicity():
    # one group: pairs keep multiplicity (serimi_class.rb:26-27).
    # p:label has 4 distinct values in 4 rows -> H/ln(4)=1 -> score 0;
    # p:const has 1 value in 4 rows -> H=0 -> score 1.
    g = [
        [
            T("s1", "p:label", "a"), T("s2", "p:label", "b"),
            T("s3", "p:label", "c"), T("s4", "p:label", "d"),
            T("s1", "p:const", "k"), T("s2", "p:const", "k"),
            T("s3", "p:const", "k"), T("s4", "p:const", "k"),
        ]
    ]
    selected, scores = R.entropy_computation(g, textp=[])
    assert scores["p:label"] == pytest.approx(0.0)
    assert scores["p:const"] == pytest.approx(1.0)
    # mean = 0.5; keep <= mean -> only p:label, ascending order
    assert selected == ["p:label"]


def test_entropy_group_presence_exclusion():
    # multi-group: predicates in < 40% of nonempty groups are excluded
    groups = [
        [T("s1", "p:common", "a")],
        [T("s2", "p:common", "b")],
        [T("s3", "p:common", "c")],
        [T("s4", "p:common", "d"), T("s4", "p:rare", "x")],
    ]
    selected, scores = R.entropy_computation(groups, textp=[])
    assert "p:rare" not in scores  # 1 of 4 groups < 0.4*4
    assert "p:common" in scores


def test_entropy_nan_dropped():
    # a single-value predicate: ln(1)=0 denominator -> dropped
    g = [[T("s1", "p:one", "only")]]
    selected, scores = R.entropy_computation(g, textp=[])
    assert scores == {}
    assert selected == []


def test_restricted_ifp():
    groups = [
        [T("s1", "p:id", "u1"), T("s2", "p:id", "u2"),
         T("s1", "p:cat", "c"), T("s2", "p:cat", "c")]
    ]
    assert R.restricted_ifp(R._distinct_triples(groups)) == ["p:id"]


def test_property_overflow_gate():
    # threshold must exceed 5 for any exclusion (serimi_class.rb:363)
    groups = [[T("s1", "p:a", f"v{i}") for i in range(4)]]
    assert R.property_overflow(R._distinct_triples(groups)) == []
    # one (s,p) with 60 distinct objects vs a few 1-count pairs:
    # population stddev exceeds 5 -> threshold active -> p:big flagged
    g = [T("s1", "p:big", f"v{i}") for i in range(60)]
    g += [T(f"s{j}", f"p:small{j}", "x") for j in range(2, 12)]
    vals = [60.0] + [1.0] * 10
    m = sum(vals) / len(vals)
    sd = math.sqrt(sum((v - m) ** 2 for v in vals) / len(vals))
    assert max(m, sd) > 5
    flagged = R.property_overflow(R._distinct_triples([g]))
    assert flagged == ["p:big"]


def test_entity_label_filtering_selects_max():
    sw = ()
    groups = [
        [
            T("t1", "p:name", "tulsa oklahoma"),
            T("t1", "p:kind", "city"),
            T("t2", "p:name", "paris france"),
            T("t2", "p:kind", "city"),
        ]
    ]
    searched = [["tulsa oklahoma"]]
    filtered, disc = R.entity_label_filtering(groups, searched, textp=[], stopwords=sw)
    subs = {t[0] for t in filtered[0]}
    assert subs == {"t1"}


def test_entity_label_filtering_below_threshold_empties_group():
    groups = [[T("t1", "p:name", "zzz qqq")]]
    searched = [["completely different"]]
    filtered, _ = R.entity_label_filtering(groups, searched, textp=[], stopwords=())
    assert filtered[0] == []


def test_rds_score_prefers_matching_candidate():
    # two source resources; one group has a candidate sharing the
    # origin's predicate-value tuples -> higher RDS feature
    origins = [
        [("p:country", "US", False), ("p:type", "city", True)],
        [("p:country", "FR", False), ("p:type", "city", True)],
    ]
    groups = [
        [
            T("t:good", "p:country", "US"), T("t:good", "p:type", "city", True),
            T("t:bad", "p:country", "BR"), T("t:bad", "p:other", "x"),
        ],
        [
            T("t:paris", "p:country", "FR"), T("t:paris", "p:type", "city", True),
        ],
    ]
    res = R.rds_score(groups, origins, textp=[])
    scores = dict(zip(res.subjects[0], res.normalized[0]))
    assert scores["t:good"] > scores["t:bad"]


def test_rds_thresholds_topk():
    scores = [[0.9, 0.5, 0.2], [0.7]]
    th = R.rds_thresholds(scores, topk=1)
    assert th == [0.9, 0.7]
    th2 = R.rds_thresholds(scores, topk=2)
    assert th2[0] == 0.5
    assert th2[1] == 0.7  # k capped at group size


def test_rds_thresholds_fixed_override():
    th = R.rds_thresholds([[0.9, 0.5]], rds_threshold=0.42)
    assert th == [0.42]


def test_rds_thresholds_adaptive_edges():
    # all scores equal 1.0 in one group: mean=1 -> edge rule 0.99
    th = R.rds_thresholds([[1.0, 1.0]])
    assert th[0] <= 1.0 and th[0] != 1.0


def test_score_chunk_end_to_end():
    origins = [
        [("p:country", "US", False), ("p:name", "tulsa", False)],
        [("p:country", "FR", False), ("p:name", "paris", False)],
    ]
    groups = [
        [
            T("t:tulsa", "p:country", "US"), T("t:tulsa", "p:name", "tulsa"),
            T("t:noise", "p:country", "XX"), T("t:noise", "p:z", "y"),
        ],
        [
            T("t:paris", "p:country", "FR"), T("t:paris", "p:name", "paris"),
            T("t:noise2", "p:w", "q"),
        ],
    ]
    rows = R.score_chunk(groups, origins, textp=[])
    accepted = {(g, s) for g, s, v, t, a in rows if a}
    assert (0, "t:tulsa") in accepted
    assert (1, "t:paris") in accepted
    assert (0, "t:noise") not in accepted


def test_score_chunk_pivots_stripped():
    origins = [[("p:a", "x", False)]]
    groups = [[T("t1", "p:a", "x"), T("t2", "p:b", "y")]]
    pivots = [[T("pv", "p:a", "x")]]
    rows = R.score_chunk(
        groups, origins, textp=[],
        pivot_fifo=R.PivotFifo(size=len(pivots), groups=deque(pivots)),
    )
    assert all(g == 0 for g, *_ in rows)
    assert {s for _g, s, *_ in rows} == {"t1", "t2"}


# ---------------------------------------------------------------------------
# the shared chunk path (operators/rds.py): parse -> F12 -> F13 -> RDS
# ---------------------------------------------------------------------------

CHUNK_COLS = ["chunk_id", "rank", "src", "role", "cand", "p", "o", "o_is_uri"]


def _chunk_rows(retrieved):
    """Rows of one chunk: per retrieved source, two homonym candidates
    (the right one shares the origin's country), its origin pairs and
    its searched label."""
    rows = []
    for rank, (src, name, country) in enumerate(retrieved):
        rows += [
            (7, rank, src, "kw", "", name, "", False),
            (7, rank, src, "origin", "", "p:name", name, False),
            (7, rank, src, "origin", "", "p:country", country, False),
            (7, rank, src, "cand", f"t:{src}", "p:name", name, False),
            (7, rank, src, "cand", f"t:{src}", "p:country", country, False),
            (7, rank, src, "cand", f"t:{src}:x", "p:name", name, False),
            (7, rank, src, "cand", f"t:{src}:x", "p:country", "atlantis", False),
        ]
    return rows


def _unretrieved(rank):
    # searched, but retrieval found nothing: kw + origin rows, no cand
    return [
        (7, rank, "s:none", "kw", "", "nowhere city", "", False),
        (7, rank, "s:none", "origin", "", "p:name", "nowhere city", False),
    ]


def _score_rows(rows):
    from pyspark.sql import Row

    from serimi_rdf_interlinking_spark.operators import rds

    chunk = rds.parse_chunk([Row(**dict(zip(CHUNK_COLS, r))) for r in rows])
    return rds.make_chunk_scorer([], ())(chunk)[0]


@pytest.mark.parametrize(
    "retrieved",
    [
        [("s:tulsa", "tulsa", "us"), ("s:paris", "paris", "fr"),
         ("s:lima", "lima", "pe")],
        [("s:tulsa", "tulsa", "us")],
    ],
)
def test_unretrieved_source_does_not_change_scores(retrieved):
    """The shared parse keeps a searched-but-unretrieved source as an
    empty group (the warm-up's discriminative predicates depend on it);
    the kernel and sequential paths must score exactly as if it were
    absent — F12 passes empty groups through and the keep step drops
    them, and with at most one retrieved source nothing is emitted."""
    base = _chunk_rows(retrieved)
    without = _score_rows(base)
    for rank in (0, len(retrieved)):  # before and after the others
        shifted = [
            (c, r + (r >= rank), *rest) for c, r, *rest in base
        ]
        assert _score_rows(shifted + _unretrieved(rank)) == without
    if len(retrieved) > 1:
        assert {(s, c) for s, c, _v, _t, a in without if a} == {
            (s, f"t:{s}") for s, _n, _c in retrieved
        }
    else:
        assert without == []


def test_chunk_rows_and_pandas_frame_score_identically():
    """The same chunk fed as Spark Rows (warm-up, sequential loop) and as
    a pandas frame (the batch kernel) gives identical output rows."""
    import pandas as pd

    from serimi_rdf_interlinking_spark.operators import rds

    rows = _chunk_rows(
        [("s:tulsa", "tulsa", "us"), ("s:paris", "paris", "fr")]
    ) + _unretrieved(2) + [
        # F13: the paris homonym is a redirect alias
        (7, 1, "s:paris", "rdir", "t:s:paris:x", "", "t:paris2", True),
        (7, 1, "s:paris", "rdesc", "t:paris2", "p:name", "paris", False),
        (7, 1, "s:paris", "rdesc", "t:paris2", "p:country", "fr", False),
    ]
    expected = [(7, *r) for r in _score_rows(rows)]
    assert any(c == "t:paris2" for _k, _s, c, *_ in expected)

    kernel = rds.make_chunk_kernel(rds.make_chunk_scorer([], ()))
    got = kernel(pd.DataFrame(rows, columns=CHUNK_COLS))
    assert list(got.itertuples(index=False, name=None)) == expected
    assert list(got.columns) == [
        "chunk_id", "src", "cand", "score", "threshold", "accepted"
    ]
