"""Run the reference's OWN shipped gold standard
(dailymed-tcm-modified.txt, 137 pairs) through the eval harness:
triples are synthesized AROUND the gold pairs (the full Dailymed/TCM
dumps are not in the repo), with labels derived from the reference
URIs' local names — so the matcher runs end-to-end on reference-shaped
URIs and the P/R pins against the reference's own standard
(the fixed Dailymed-TCM result is P=1.00/R=0.98, BASELINE.md).

Also covers J8 sameas_audit (util/sameas.rb:46-112).
"""

import os

import pytest
from pyspark.sql import functions as F

from serimi_rdf_interlinking_spark.config import SerimiConfig
from serimi_rdf_interlinking_spark.matcher import SerimiMatcher
from serimi_rdf_interlinking_spark.operators.evaluate import (
    evaluate_alignment,
    sameas_audit,
)
from serimi_rdf_interlinking_spark.sources.alignments import (
    read_gold_alignments,
)
from serimi_rdf_interlinking_spark.sources.triples import TRIPLE_SCHEMA

GOLD_PATH = "/root/reference/dailymed-tcm-modified.txt"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
LBL = "http://www.w3.org/2000/01/rdf-schema#label"
CLS = "http://www4.wiwiss.fu-berlin.de/dailymed/class/ingredient"
TCM = "http://purl.org/net/tcm/tcm.lifescience.ntu.edu.tw/ontology/"


def _localname(uri: str) -> str:
    return uri.rsplit("/", 1)[-1].replace("_", " ").replace("%20", " ")


@pytest.fixture(scope="module")
def dailymed_frames(spark):
    if not os.path.exists(GOLD_PATH):
        pytest.skip(
            f"reference gold standard {GOLD_PATH} is absent: the reference "
            "checkout is not on this machine"
        )
    gold = read_gold_alignments(spark, GOLD_PATH)
    pairs = [(r.source, r.target) for r in gold.collect()]
    src_rows, tgt_rows = [], []
    tgt_seen = set()
    for i, (s, t) in enumerate(sorted(pairs)):
        src_rows += [
            (s, RDF_TYPE, CLS, True, False),
            (s, LBL, _localname(s), False, False),
            (s, f"{TCM}kind", f"kind{i % 5}", False, False),
        ]
        if t not in tgt_seen:  # several sources share a target
            tgt_seen.add(t)
            tgt_rows += [
                (t, f"{TCM}name", _localname(t), False, False),
                (t, f"{TCM}kind", f"kind{i % 5}", False, False),
                (t, f"{TCM}uid", f"T{i}", False, False),
                (t, f"{TCM}type_label", "ingredient", False, False),
            ]
    return (
        spark.createDataFrame(src_rows, TRIPLE_SCHEMA),
        spark.createDataFrame(tgt_rows, TRIPLE_SCHEMA),
        gold,
        pairs,
    )


def test_dailymed_tcm_gold_eval(spark, dailymed_frames):
    source, target, gold, pairs = dailymed_frames
    assert gold.count() == 137
    cfg = SerimiConfig(chunk=20, topk=1, shuffle_partitions=4)
    res = SerimiMatcher(cfg).run(spark, source, target, CLS)
    prf = evaluate_alignment(res.alignments, gold)
    # the reference's fixed standard on real Dailymed/TCM data is
    # P=1.00 / R=0.98; on these synthesized descriptions the harness
    # should stay in that neighborhood (label-mismatch pairs like
    # ASPARAGINASE=asparagine bound recall below 1.0 by construction)
    assert prf.precision >= 0.95, (prf.tp, prf.fp, prf.fn)
    assert prf.recall >= 0.90, (prf.tp, prf.fp, prf.fn)


def test_sameas_audit_counts(spark):
    links = spark.createDataFrame(
        [
            ("http://a/1", "http://dbpedia.org/resource/Good"),
            ("http://a/2", "http://dbpedia.org/resource/StaleAlias"),
            ("http://a/3", "http://dbpedia.org/resource/AmbAlias"),
            ("http://a/4", "http://other.org/x"),  # outside namespace
        ],
        ["source", "target"],
    )
    kb_rows = [
        ("http://dbpedia.org/resource/StaleAlias",
         "http://dbpedia.org/ontology/wikiPageRedirects",
         "http://dbpedia.org/resource/Fresh", True, False),
        # two redirect rows for the same alias -> still ONE redirected link
        ("http://dbpedia.org/resource/AmbAlias",
         "http://dbpedia.org/ontology/wikiPageRedirects",
         "http://dbpedia.org/resource/Foo_(disambiguation)", True, False),
        ("http://dbpedia.org/resource/AmbAlias",
         "http://dbpedia.org/ontology/wikiPageRedirects",
         "http://dbpedia.org/resource/Bar", True, False),
        ("http://dbpedia.org/resource/Good",
         "http://dbpedia.org/ontology/label", "good", False, False),
    ]
    kb = spark.createDataFrame(kb_rows, TRIPLE_SCHEMA)
    row = sameas_audit(
        links, kb, namespace="http://dbpedia.org/resource/"
    ).collect()[0]
    assert row.n_links == 3
    assert row.n_redirected == 2
    assert row.n_ambiguous == 1
    assert row.ratio_redirected == pytest.approx(2 / 3, abs=1e-6)
    assert row.ratio_ambiguous == pytest.approx(1 / 3, abs=1e-6)
