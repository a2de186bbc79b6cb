"""Alignment sink/reader formats (S6/S7), the crash-safe append sink,
and the spark-submit CLI."""

import os
import shutil
import subprocess
import sys

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from serimi_rdf_interlinking_spark.sources.alignments import (
    alignment_lines,
    read_gold_alignments,
    write_alignments,
)


def test_alignment_txt_format(spark):
    al = spark.createDataFrame(
        [("<http://a/1>", "http://b/1", 0.9)], ["source", "target", "score"]
    )
    lines = [r.value for r in alignment_lines(al, "txt").collect()]
    assert lines == ["http://a/1=http://b/1"]


def test_alignment_nt_format(spark):
    al = spark.createDataFrame(
        [("http://a/1", "http://b/1", 0.9)], ["source", "target", "score"]
    )
    lines = [r.value for r in alignment_lines(al, "nt").collect()]
    assert lines == [
        "<http://a/1> <http://www.w3.org/2002/07/owl#sameAs> <http://b/1> ."
    ]


def test_write_then_read_roundtrip(spark, tmp_path):
    al = spark.createDataFrame(
        [("http://a/1", "http://b/1", 0.9), ("http://a/2", "http://b/2%20x", 0.8)],
        ["source", "target", "score"],
    )
    out = str(tmp_path / "align_txt")
    write_alignments(al, out, "txt")
    back = read_gold_alignments(spark, out)
    got = {(r.source, r.target) for r in back.collect()}
    # reader url-decodes targets like the reference eval harness
    assert ("http://a/1", "http://b/1") in got
    assert ("http://a/2", "http://b/2 x") in got


def _read_bytes_sorted(path):
    import glob
    import os

    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    return b"".join(open(p, "rb").read() for p in parts)


def test_append_mode_is_idempotent(spark, tmp_path):
    """S6 append contract (reference -a): writing the same alignments
    twice in append mode yields byte-identical single output — a
    resumed run must never duplicate lines."""
    al = spark.createDataFrame(
        [("http://a/1", "http://b/1", 0.9), ("http://a/2", "http://b/2", 0.8)],
        ["source", "target", "score"],
    )
    out = str(tmp_path / "align_append")
    write_alignments(al, out, "txt", mode="append")   # creates
    first = _read_bytes_sorted(out)
    write_alignments(al, out, "txt", mode="append")   # re-emit, no dupes
    assert _read_bytes_sorted(out) == first
    # a genuinely new alignment merges in
    extra = spark.createDataFrame(
        [("http://a/3", "http://b/3", 0.7)], ["source", "target", "score"]
    )
    write_alignments(extra, out, "txt", mode="append")
    lines = sorted(r.value for r in spark.read.text(out).collect())
    assert lines == [
        "http://a/1=http://b/1",
        "http://a/2=http://b/2",
        "http://a/3=http://b/3",
    ]


def test_cli_parser_defaults():
    from serimi_rdf_interlinking_spark.cli import build_parser

    args = build_parser().parse_args(
        ["-s", "src", "-t", "tgt", "-c", "K", "-o", "out"]
    )
    assert args.chunk == 20
    assert args.string_threshold == 0.7
    assert args.topk == 0
    assert args.format == "txt"
    assert not args.use_pivot


def test_cli_rejects_no_blocking():
    """Blocking is always on (the reference only ever sets it true), so
    --no-blocking, once accepted and silently ignored, is a usage
    error."""
    from serimi_rdf_interlinking_spark.cli import build_parser

    with pytest.raises(SystemExit) as exc:
        build_parser().parse_args(
            ["-s", "src", "-t", "tgt", "-c", "K", "-o", "out", "--no-blocking"]
        )
    assert exc.value.code == 2


def test_cli_new_flags_wire_through(spark, triple_dfs, tmp_path):
    """-a (idempotent append) + --word-by-word together: the run
    succeeds, and a SECOND append run leaves the output byte-identical
    (the resumed-run contract, end to end through the CLI)."""
    src, tgt = triple_dfs
    src_dir = str(tmp_path / "srcF")
    tgt_dir = str(tmp_path / "tgtF")
    out_dir = str(tmp_path / "outF")
    src.write.mode("overwrite").parquet(src_dir)
    tgt.write.mode("overwrite").parquet(tgt_dir)

    from serimi_rdf_interlinking_spark.cli import main
    from serimi_rdf_interlinking_spark.sources.fixtures import CLASS_CITY

    args = [
        "-s", src_dir, "-t", tgt_dir, "-c", CLASS_CITY, "-o", out_dir,
        "-k", "10", "-p", "1", "--shuffle-partitions", "4",
        "-a", "--word-by-word",
    ]
    assert main(args) == 0
    first = _read_bytes_sorted(out_dir)
    assert len(first) > 0
    assert main(args) == 0  # append rerun: no duplicates, no clobber
    assert _read_bytes_sorted(out_dir) == first


def test_cli_end_to_end(spark, triple_dfs, tmp_path):
    """Run the CLI main() in-process against fixture parquet."""
    src, tgt = triple_dfs
    src_dir = str(tmp_path / "src")
    tgt_dir = str(tmp_path / "tgt")
    out_dir = str(tmp_path / "out")
    src.write.mode("overwrite").parquet(src_dir)
    tgt.write.mode("overwrite").parquet(tgt_dir)

    from serimi_rdf_interlinking_spark.cli import main
    from serimi_rdf_interlinking_spark.sources.fixtures import CLASS_CITY

    rc = main(
        [
            "-s", src_dir, "-t", tgt_dir, "-c", CLASS_CITY, "-o", out_dir,
            "-k", "10", "-p", "1", "--shuffle-partitions", "4",
        ]
    )
    assert rc == 0
    lines = spark.read.text(out_dir).collect()
    assert len(lines) > 10
    assert all("=" in r.value for r in lines)


# ---------------------------------------------------------------------------
# crash-safe append sink: fixed crash points and a randomized
# kill-point sweep
# ---------------------------------------------------------------------------


def test_append_swap_crash_recovery(spark, tmp_path):
    """The append swap must survive a crash at every protocol point:
    rerunning write_alignments(mode='append') from any intermediate
    state converges to the same merged output."""
    from serimi_rdf_interlinking_spark.sources import alignments as A

    path = str(tmp_path / "out")
    df1 = spark.createDataFrame(
        [("s1", "t1", 0.9), ("s2", "t2", 0.8)], "source string, target string, score double"
    )
    df2 = spark.createDataFrame(
        [("s3", "t3", 0.7)], "source string, target string, score double"
    )
    A.write_alignments(df1, path, mode="overwrite")
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())

    def lines():
        return sorted(r.value for r in spark.read.text(path).collect())

    want = ["s1=t1", "s2=t2", "s3=t3"]

    # crash point 1: a stale partial tmp left over from a dead writer
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(path + A.TMP_SUFFIX))
    A.write_alignments(df2, path, mode="append")
    assert lines() == want
    assert not fs.exists(jvm.org.apache.hadoop.fs.Path(path + A.TMP_SUFFIX))

    # crash point 2: live dir renamed aside, complete tmp not yet moved
    # in (the delete-then-rename hole the round-3 sink had)
    fs.rename(hpath, jvm.org.apache.hadoop.fs.Path(path + A.ASIDE_SUFFIX + "x"))
    # simulate: tmp holds the complete merged output, live is missing,
    # aside holds the old copy
    fs.rename(
        jvm.org.apache.hadoop.fs.Path(path + A.ASIDE_SUFFIX + "x"),
        jvm.org.apache.hadoop.fs.Path(path + A.TMP_SUFFIX),
    )
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(path + A.ASIDE_SUFFIX))
    A.write_alignments(df2, path, mode="append")
    assert lines() == want
    assert not fs.exists(jvm.org.apache.hadoop.fs.Path(path + A.ASIDE_SUFFIX))

    # idempotent rerun converges
    A.write_alignments(df2, path, mode="append")
    assert lines() == want


# the append swap's reachable crash states, as (live, tmp, aside)
# contents where v1 = the pre-append output, m = the complete merged
# output, "partial" = a torn tmp write:
#   before_anything      live=v1
#   during_tmp_write     live=v1  tmp=partial
#   after_tmp_write      live=v1  tmp=m
#   between_renames      aside=v1 tmp=m   (the delete-then-rename hole)
#   before_aside_delete  live=m   aside=v1
CRASH_STEPS = (
    "before_anything",
    "during_tmp_write",
    "after_tmp_write",
    "between_renames",
    "before_aside_delete",
)


def _write_text_dir(path: str, lines: list) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000"), "w") as f:
        for ln in sorted(lines):
            f.write(ln + "\n")
    open(os.path.join(path, "_SUCCESS"), "w").close()


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    crash=st.sampled_from(CRASH_STEPS),
    ids1=st.sets(st.integers(0, 9), min_size=1, max_size=5),
    ids2=st.sets(st.integers(5, 14), min_size=0, max_size=5),
    data=st.data(),
)
def test_append_sink_randomized_kill_points(spark, tmp_path_factory, crash, ids1, ids2, data):
    """Property: from EVERY reachable crash state of the append swap —
    over randomized alignment sets — a rerun of
    write_alignments(mode='append') converges to exactly the merged
    output with no tmp/aside remnants (round-4 verdict #9: the fixed
    crash points never exercised the state space)."""
    from serimi_rdf_interlinking_spark.sources import alignments as A

    base = tmp_path_factory.mktemp("chaos")
    path = str(base / "out")
    v1 = [f"s{i}=t{i}" for i in sorted(ids1)]
    v2 = [f"s{i}=t{i}" for i in sorted(ids2)]
    merged = sorted(set(v1) | set(v2))
    df2 = spark.createDataFrame(
        [(f"s{i}", f"t{i}", 0.5) for i in sorted(ids2)] or [("sX", "tX", 0.0)],
        "source string, target string, score double",
    )
    if not ids2:
        df2 = df2.filter("source <> source")  # empty frame, same schema

    # build the crash state directly on the local fs (the protocol's
    # own invariants define what each state contains)
    _write_text_dir(path, v1)
    if crash == "during_tmp_write":
        os.makedirs(path + A.TMP_SUFFIX, exist_ok=True)
        with open(path + A.TMP_SUFFIX + "/part-00000", "w") as f:
            f.write("GARBAGE-TORN-WRITE")  # torn tmp: no _SUCCESS
    elif crash == "after_tmp_write":
        _write_text_dir(path + A.TMP_SUFFIX, merged)
    elif crash == "between_renames":
        shutil.move(path, path + A.ASIDE_SUFFIX)
        _write_text_dir(path + A.TMP_SUFFIX, merged)
    elif crash == "before_aside_delete":
        shutil.move(path, path + A.ASIDE_SUFFIX)
        _write_text_dir(path, merged)

    # optionally crash AGAIN during the recovery rerun's tmp write
    if data.draw(st.booleans(), label="second_crash") and os.path.isdir(path):
        os.makedirs(path + A.TMP_SUFFIX, exist_ok=True)
        with open(path + A.TMP_SUFFIX + "/part-extra", "w") as f:
            f.write("MORE-GARBAGE")

    A.write_alignments(df2, path, mode="append")
    got = sorted(
        ln
        for fn in os.listdir(path)
        if fn.startswith("part-")
        for ln in open(os.path.join(path, fn)).read().splitlines()
    )
    assert got == merged, (crash, v1, v2)
    assert not os.path.exists(path + A.TMP_SUFFIX)
    assert not os.path.exists(path + A.ASIDE_SUFFIX)
