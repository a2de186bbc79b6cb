"""Extraction, connected components, KG pipeline checkpoint/resume,
multimodal plumbing."""

import hashlib
import os
from collections import Counter

import pytest
from conftest import _persistent_rdds
from pyspark.sql import functions as F

from serimi_rdf_interlinking_spark.config import SerimiConfig
from serimi_rdf_interlinking_spark.extract import (
    extract_text_from_html,
    extract_triples,
    extract_triples_from_text,
)
from serimi_rdf_interlinking_spark.operators import graph as G
from serimi_rdf_interlinking_spark.operators.graph import connected_components
from serimi_rdf_interlinking_spark.plans.pipeline import KGPipeline
from serimi_rdf_interlinking_spark.sources.triples import PAGE_SCHEMA, TRIPLE_SCHEMA


def _pages_df(spark, fixture):
    rows = [
        (url, None, html, text, lang)
        for url, _ts, html, text, lang in fixture.pages
    ]
    return spark.createDataFrame(rows, PAGE_SCHEMA)


def _bag(df):
    return Counter(map(tuple, df.collect()))


def _stage_rows(lineage_rows):
    """(stage, rows_in, rows_out) of each stage row of a lineage table."""
    return Counter(
        (r["stage"], r["rows_in"], r["rows_out"])
        for r in lineage_rows
        if r["partition_id"] is None
    )


def test_html_text_invariant(fixture_small):
    # per-row invariant: byte-identical extracted text per url
    for url, _ts, html, text, _lang in fixture_small.pages:
        assert extract_text_from_html(html) == text, url


def test_html_extractor_real_page_shape(fixture_small):
    """A crawl-realistic page (boilerplate, script/style/comments,
    entities, nbsp) must reduce to exactly the fixture sentence text —
    the same byte-identity invariant, on hostile markup."""
    _url, _ts, _html, text, _lang = fixture_small.pages[0]
    esc = text.replace("&", "&amp;")
    page = (
        "<!DOCTYPE html><html><head>\n"
        '<meta charset="utf-8"><title>ignored title</title>\n'
        "<style>body { color: red }</style>\n"
        '<script src="x.js"></script>\n'
        "<script>if (1 < 2) { document.write('<p>injected</p>'); }</script>\n"
        "</head><body>\n"
        "<!-- nav boilerplate -->\n"
        "<!--[if IE]><p>ie only</p><![endif]-->\n"
        f"<div class='a&amp;b'><p>{esc}</p></div>\n"
        "<noscript>enable js</noscript>\n"
        "</body></html>"
    ).encode("utf-8")
    got = extract_text_from_html(page)
    assert got == "ignored title " + text


def test_html_extractor_entities_and_nbsp():
    page = b"<p>Fish&nbsp;&amp;&nbsp;Chips &#65;&#x42; &lt;b&gt;literal&lt;/b&gt;</p>"
    # &nbsp; collapses like ordinary whitespace; escaped markup stays text
    assert extract_text_from_html(page) == "Fish & Chips AB <b>literal</b>"


def test_html_extractor_unclosed_script_consumes_to_eof():
    page = b"<p>kept</p><script>var x = '<p>never rendered</p>';"
    assert extract_text_from_html(page) == "kept"


def test_html_extractor_charsets():
    body = "<html><body>Zürich café</body></html>"
    assert extract_text_from_html(body.encode("utf-8")) == "Zürich café"
    # BOM beats the (absent) meta declaration; BOM must not leak into text
    for enc in ("utf-16-le", "utf-16-be"):
        import codecs as _c

        bom = _c.BOM_UTF16_LE if enc.endswith("le") else _c.BOM_UTF16_BE
        assert extract_text_from_html(bom + body.encode(enc)) == "Zürich café"
    latin = (
        '<html><head><meta http-equiv="Content-Type" '
        'content="text/html; charset=iso-8859-1"></head>'
        "<body>Zürich café</body></html>"
    ).encode("iso-8859-1")
    assert extract_text_from_html(latin) == "Zürich café"
    # unknown charset label: deterministic utf-8 fallback, never a crash
    junk = b'<meta charset="no-such-enc"><body>ok</body>'
    assert extract_text_from_html(junk) == "ok"


def test_extract_triples_from_text():
    rows = extract_triples_from_text(
        "u1",
        "barton is a settlement in argovia. It lies in the north region. "
        "Its population is 10137.",
    )
    assert ("barton", "in_country", "argovia", False, "u1") in rows
    assert ("barton", "in_region", "north", False, "u1") in rows
    assert ("barton", "population", "10137", False, "u1") in rows


def test_extract_triples_spark_matches_expected(spark, fixture_small):
    pages = _pages_df(spark, fixture_small)
    got = {
        (r.src_url, r.s, r.p, r.o)
        for r in extract_triples(pages).collect()
    }
    expected = set(fixture_small.expected_extractions)
    assert expected == got


def test_extract_from_html_equals_from_text(spark, fixture_small):
    pages = _pages_df(spark, fixture_small)
    a = extract_triples(pages, from_html=False)
    b = extract_triples(pages, from_html=True)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")],
        ["src", "dst"],
    )
    cc = {r.node: r.component for r in connected_components(edges).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"
    assert cc["x"] == cc["y"] == "x"


def test_pipeline_end_to_end_and_resume(spark, fixture_small, triple_dfs, tmp_path):
    _src, tgt = triple_dfs
    pages = _pages_df(spark, fixture_small)
    cfg = SerimiConfig(chunk=10, topk=1)
    ckpt = str(tmp_path / "ckpt")

    p1 = KGPipeline(cfg, ckpt, run_id="r1")
    res1 = p1.run(spark, pages, tgt)
    assert res1.stages_run == ["extract", "link", "canonicalize", "materialize"]
    n_triples = res1.triples_out.count()
    n_align = res1.alignments.count()
    assert n_triples > 0
    assert n_align > 0
    # linked mentions resolve to real target entities
    assert res1.alignments.filter(
        F.col("target").startswith("http://tgt.test/")
    ).count() == n_align

    # lineage recorded per stage, extract has per-partition rows
    stages = {r.stage for r in res1.lineage.collect()}
    assert stages == {"extract", "link", "canonicalize", "materialize"}
    assert res1.lineage.filter(
        (F.col("stage") == "extract") & F.col("partition_id").isNotNull()
    ).count() > 0

    # salted materialize layout: the salt hashes the WHOLE triple, so
    # any subject with several triples spreads over multiple buckets
    # (a subject-only hash would pin a hot entity's fan-in to one
    # bucket — the skew salting exists to break)
    spread = (
        res1.triples_out.groupBy("s")
        .agg(
            F.countDistinct("bucket").alias("nb"),
            F.count("*").alias("nt"),
        )
        .filter(F.col("nt") >= 3)
    )
    assert spread.filter(F.col("nb") >= 2).count() > 0

    # resume: a rerun skips everything and returns identical outputs
    p2 = KGPipeline(cfg, ckpt, run_id="r1")
    res2 = p2.run(spark, pages, tgt)
    assert res2.stages_run == []
    assert set(res2.stages_skipped) == {"extract", "link", "canonicalize", "materialize"}
    assert res2.triples_out.count() == n_triples
    assert res2.alignments.exceptAll(res1.alignments).count() == 0

    # stepwise: one run(stop_after=S) call per stage, as kgbench's
    # traced run makes them, builds exactly stage S and ends equal to
    # the one-shot run
    steps = KGPipeline(cfg, ckpt, run_id="r1_steps")
    for i, stage in enumerate(KGPipeline.STAGES):
        r = steps.run(spark, pages, tgt, stop_after=stage)
        assert r.stages_run == [stage]
        assert r.stages_skipped == KGPipeline.STAGES[:i]
        if stage == "extract":
            assert r.alignments.count() == 0
        if stage in ("extract", "link"):
            assert r.canonical_ids.count() == 0
    assert _bag(r.triples_out) == _bag(res1.triples_out)
    assert _bag(r.alignments) == _bag(res1.alignments)
    assert _stage_rows(r.lineage.collect()) == _stage_rows(res1.lineage.collect())


def test_pipeline_resume_after_partial(spark, fixture_small, triple_dfs, tmp_path):
    _src, tgt = triple_dfs
    pages = _pages_df(spark, fixture_small)
    cfg = SerimiConfig(chunk=10, topk=1)
    ckpt = str(tmp_path / "ckpt2")

    # simulate a crash after the extract stage
    p1 = KGPipeline(cfg, ckpt, run_id="r2")
    r1 = p1.run(spark, pages, tgt, stop_after="extract")
    assert r1.stages_run == ["extract"]

    p2 = KGPipeline(cfg, ckpt, run_id="r2")
    r2 = p2.run(spark, pages, tgt)
    assert "extract" in r2.stages_skipped
    assert "link" in r2.stages_run
    assert r2.alignments.count() > 0


def _assert_one_lineage_row_set_per_stage(lineage_rows):
    stage_rows = [r for r in lineage_rows if r["partition_id"] is None]
    assert sorted(r["stage"] for r in stage_rows) == sorted(KGPipeline.STAGES)
    (extract,) = [r for r in stage_rows if r["stage"] == "extract"]
    assert extract["rows_out"] == sum(
        r["rows_out"]
        for r in lineage_rows
        if r["stage"] == "extract" and r["partition_id"] is not None
    )


def test_pipeline_lineage_commit_survives_crash(
    spark, fixture_small, triple_dfs, tmp_path, monkeypatch
):
    """A driver that dies after a stage's lineage write but before its
    _mark_done commit reruns that stage on resume; the rerun replaces
    the stage's lineage rows instead of adding a second set."""
    _src, tgt = triple_dfs
    pages = _pages_df(spark, fixture_small)
    cfg = SerimiConfig(chunk=10, topk=1)
    ckpt = str(tmp_path / "ckpt_commit")
    mark_done = KGPipeline._mark_done
    crashed = set()

    def crash_once(self, stage):
        if stage not in crashed:
            crashed.add(stage)
            raise RuntimeError(f"killed before committing {stage}")
        mark_done(self, stage)

    monkeypatch.setattr(KGPipeline, "_mark_done", crash_once)
    for stage in KGPipeline.STAGES:
        with pytest.raises(RuntimeError, match=f"committing {stage}"):
            KGPipeline(cfg, ckpt, run_id="c").run(spark, pages, tgt)
    res = KGPipeline(cfg, ckpt, run_id="c").run(spark, pages, tgt)
    assert res.stages_run == ["materialize"]
    _assert_one_lineage_row_set_per_stage(res.lineage.collect())


def test_pipeline_lineage_survives_torn_write(
    spark, fixture_small, triple_dfs, tmp_path, monkeypatch
):
    """A lineage write killed halfway leaves no file that a reader of
    the run's lineage trips over: the resumed run completes, and its
    lineage reads with Spark and with pyarrow.dataset."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    _src, tgt = triple_dfs
    pages = _pages_df(spark, fixture_small)
    cfg = SerimiConfig(chunk=10, topk=1)
    ckpt = str(tmp_path / "ckpt_torn")
    write_table = pq.write_table
    torn = []

    def tear_once(table, where, *args, **kwargs):
        if torn:
            return write_table(table, where, *args, **kwargs)
        torn.append(True)
        with open(where, "wb") as f:
            f.write(b"PAR1\x00\x00")
        raise OSError("killed mid-write")

    monkeypatch.setattr(pq, "write_table", tear_once)
    with pytest.raises(OSError, match="mid-write"):
        KGPipeline(cfg, ckpt, run_id="t").run(spark, pages, tgt)
    res = KGPipeline(cfg, ckpt, run_id="t").run(spark, pages, tgt)
    assert res.stages_run == KGPipeline.STAGES
    spark_rows = res.lineage.collect()  # spark.read.parquet(<run>/lineage)
    arrow_rows = ds.dataset(
        os.path.join(ckpt, "t", "lineage"), format="parquet"
    ).to_table().to_pylist()
    _assert_one_lineage_row_set_per_stage(spark_rows)
    assert _stage_rows(arrow_rows) == _stage_rows(spark_rows)


def test_multimodal_plumbing(spark):
    """decode_and_featurize on a real PPM payload: byte count and digest
    of the payload, a `dim`-long feature from the production decoder,
    the same row on every run; a mime with no native decoder raises."""
    from serimi_rdf_interlinking_spark.multimodal import (
        MEDIA_SCHEMA,
        decode_and_featurize,
        synth_ppm,
    )

    ppm = synth_ppm(6, 4, seed=5)
    media = spark.createDataFrame(
        [("m1", "image", ppm, "image/x-portable-pixmap", 6, 4, None)],
        MEDIA_SCHEMA,
    )
    (row,) = decode_and_featurize(media).collect()
    assert row.n_bytes == len(ppm)
    assert row.sha256 == hashlib.sha256(ppm).hexdigest()
    assert len(row.feature) == 8
    # deterministic across invocations
    assert decode_and_featurize(media).collect() == [row]
    video = spark.createDataFrame(
        [("m2", "video", b"\x04\x05", "video/mp4", None, None, 3500)],
        MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="codec libraries"):
        decode_and_featurize(video).collect()


def test_pipeline_triples_pr_vs_reference_semantics(
    spark, fixture_small, triple_dfs, tmp_path
):
    """north_rule: emitted triples P/R >= 0.95 vs the expected set."""
    _src, tgt = triple_dfs
    pages = _pages_df(spark, fixture_small)
    cfg = SerimiConfig(chunk=10, topk=1)
    res = KGPipeline(cfg, str(tmp_path / "ckpt3"), run_id="r3").run(
        spark, pages, tgt
    )
    # expected: every extracted fact, with subjects canonicalized through
    # the gold alignment when the mention matched a target entity
    extracted = set(fixture_small.expected_extractions)
    mention = lambda s: "mention://" + s.replace(" ", "_")
    got = {(r.s, r.p, r.o) for r in res.triples_out.collect()}
    # every expected fact must appear under either its mention id or a
    # canonical target id
    missing = 0
    for _url, s, p, o in extracted:
        if not any(g[1] == p and g[2] == o for g in got):
            missing += 1
    assert missing == 0


def test_recall_diagnosis(spark):
    from serimi_rdf_interlinking_spark.operators.evaluate import recall_diagnosis

    pred = spark.createDataFrame([("s1", "t1")], ["source", "target"])
    gold = spark.createDataFrame(
        [("s1", "t1"), ("s2", "t2"), ("s3", "t3")], ["source", "target"]
    )
    searched = spark.createDataFrame([("s1",), ("s2",)], ["src"])
    rows = {
        (r.source, r.reason)
        for r in recall_diagnosis(pred, gold, searched).collect()
    }
    assert rows == {
        ("s2", "searched_but_unresolved"),
        ("s3", "never_searched"),
    }


def test_connected_components_deep_chain_pointer_jumping(spark, monkeypatch):
    """A 300-node path graph THROUGH THE DISTRIBUTED LOOP
    (DRIVER_MAX_EDGES=0 disables the small-graph union-find shortcut):
    plain min-label propagation needs 299 rounds; pointer jumping must
    converge within MAX_ITER = 25."""
    monkeypatch.setattr(G, "DRIVER_MAX_EDGES", 0)
    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(299)]
        + [("z0", "z1"), ("z1", "z2")],  # a second, separate component
        ["src", "dst"],
    )
    cc = {
        r.node: r.component
        for r in connected_components(edges).collect()
    }
    assert all(cc[f"n{i:04d}"] == "n0000" for i in range(300))
    assert cc["z0"] == cc["z1"] == cc["z2"] == "z0"


def test_connected_components_driver_path_equals_distributed(
    spark, monkeypatch
):
    """The small-graph union-find shortcut must produce the exact
    labeling of the distributed pointer-jumping loop."""
    import random

    rng = random.Random(11)
    edges = spark.createDataFrame(
        [(rng.randrange(200), rng.randrange(200)) for _ in range(150)],
        ["src", "dst"],
    )
    local = {
        (r.node, r.component)
        for r in connected_components(edges).collect()
    }
    monkeypatch.setattr(G, "DRIVER_MAX_EDGES", 0)
    dist = {
        (r.node, r.component)
        for r in connected_components(edges).collect()
    }
    assert local == dist and len(local) > 0


def test_pipeline_run_releases_its_checkpoints(
    spark, fixture_small, triple_dfs, tmp_path
):
    """A pipeline run leaves no localCheckpoint of its own pinned: the
    mentions frame, the matcher's scored frame and connected_components'
    edge frame are all released by the time run returns."""
    _src, tgt = triple_dfs
    pages = _pages_df(spark, fixture_small)
    before = _persistent_rdds(spark)
    KGPipeline(SerimiConfig(chunk=10, topk=1), str(tmp_path / "ck")).run(
        spark, pages, tgt
    )
    assert _persistent_rdds(spark) - before == set()


def test_connected_components_distributed_keeps_only_its_result(
    spark, monkeypatch
):
    """The distributed loop releases every checkpoint it made except
    the returned labels."""
    monkeypatch.setattr(G, "DRIVER_MAX_EDGES", 0)
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(20)], ["src", "dst"]
    )
    before = _persistent_rdds(spark)
    cc = connected_components(edges)
    assert len(_persistent_rdds(spark) - before) == 1
    assert {r.component for r in cc.collect()} == {"n0"}


def _cc_edges(spark, n):
    """n distinct edges: a path n000 - ... - n{n-2} plus the separate
    edge z1 - z0, so the labeling has two non-trivial components."""
    rows = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)]
    expected = {f"n{i:03d}": "n000" for i in range(n)}
    expected.update(z0="z0", z1="z0")
    return spark.createDataFrame(rows + [("z1", "z0")], ["src", "dst"]), expected


def test_connected_components_probe_is_bounded_over_threshold(
    spark, monkeypatch
):
    """A graph over DRIVER_MAX_EDGES must not be shipped to the driver:
    the path probe collects at most DRIVER_PROBE_ROWS + 1 edges, counts,
    and leaves the labeling to the distributed loop."""
    monkeypatch.setattr(G, "DRIVER_PROBE_ROWS", 3, raising=False)
    monkeypatch.setattr(G, "DRIVER_MAX_EDGES", 10)
    edges, expected = _cc_edges(spark, 12)
    collected = []
    cls = type(edges)
    collect = cls.collect

    def spy(self):
        rows = collect(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    cc = G.connected_components(edges)
    assert collected and max(collected) <= 4
    assert {r.node: r.component for r in cc.collect()} == expected


@pytest.mark.parametrize("probe", [None, 3], ids=["one_probe", "count_path"])
@pytest.mark.parametrize("extra", [0, 1], ids=["at_threshold", "over_threshold"])
def test_connected_components_labels_at_driver_max_edges(
    spark, monkeypatch, probe, extra
):
    """Exactly DRIVER_MAX_EDGES edges take the driver union-find, one
    more takes the distributed loop; both give the same labels, with
    the probe larger than the graph (one probe job) and smaller (count,
    then collect only what fits)."""
    if probe is not None:
        monkeypatch.setattr(G, "DRIVER_PROBE_ROWS", probe)
    threshold = 6
    monkeypatch.setattr(G, "DRIVER_MAX_EDGES", threshold)
    edges, expected = _cc_edges(spark, threshold + extra)
    cc = G.connected_components(edges)
    assert {r.node: r.component for r in cc.collect()} == expected


def test_lsh_recovery_alignments_direct(spark):
    """Recovery tier kernel: an unmatched typo'd mention links to the
    right target via the char-shingle LSH join; matched mentions are
    anti-joined away; URI-valued and unrelated labels never match.
    'Centro Hospitlar' shares NO exact token with 'Centro Hospitalar',
    so the inverted-index tier cannot retrieve it by construction."""
    from serimi_rdf_interlinking_spark.plans.pipeline import (
        lsh_recovery_alignments,
    )
    from serimi_rdf_interlinking_spark.sources.triples import (
        RDFS_LABEL,
        TRIPLE_SCHEMA,
    )

    mentions = spark.createDataFrame(
        [
            ("m://CH", RDFS_LABEL, "Centro Hospitlar de Lisboa", False,
             False),
            ("m://AP", RDFS_LABEL, "Apollo Theatre", False, False),
        ],
        TRIPLE_SCHEMA,
    )
    target = spark.createDataFrame(
        [
            ("t://chl", RDFS_LABEL, "Centro Hospitalar de Lisboa",
             False, False),
            ("t://ap", "http://xmlns.com/foaf/0.1/name",
             "Apollo Theatre", False, False),
            ("t://other", RDFS_LABEL, "Something Else Entirely",
             False, False),
            ("t://u", RDFS_LABEL, "t://not-a-literal", True, False),
        ],
        TRIPLE_SCHEMA,
    )
    matched = spark.createDataFrame(
        [("m://AP", "t://ap", 1.0)],
        "source string, target string, score double",
    )
    rec = lsh_recovery_alignments(mentions, target, matched).collect()
    assert len(rec) == 1
    assert rec[0].source == "m://CH"
    assert rec[0].target == "t://chl"
    assert rec[0].score >= 0.5


def test_pipeline_lsh_recovery_flag(spark, fixture_small, triple_dfs, tmp_path):
    """Opt-in flag: recovered alignments UNION with (never replace)
    the matcher's; default-off path stays byte-identical to the
    pinned behavior; downstream canonicalize consumes the union."""
    _src, tgt = triple_dfs
    pages = _pages_df(spark, fixture_small)
    cfg = SerimiConfig(chunk=10, topk=1)

    off = KGPipeline(cfg, str(tmp_path / "off"), run_id="o").run(
        spark, pages, tgt, stop_after="link"
    )
    on = KGPipeline(
        cfg, str(tmp_path / "on"), run_id="n", lsh_recovery=True
    ).run(spark, pages, tgt, stop_after="link")
    base = {(r.source, r.target) for r in off.alignments.collect()}
    rec = {(r.source, r.target) for r in on.alignments.collect()}
    assert base <= rec
    extra = rec - base
    # every recovered mention was UNMATCHED in the base run
    assert {s for s, _ in extra}.isdisjoint({s for s, _ in base})
