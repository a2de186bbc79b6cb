"""Alignment sink/reader formats (S6/S7) and the spark-submit CLI."""

import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from serimi_rdf_interlinking_spark.sources.alignments import (
    alignment_lines,
    read_gold_alignments,
    write_alignments,
    write_alignments_by_chunk,
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


def test_per_chunk_overwrite_replaces_only_that_chunk(spark, tmp_path):
    """Dynamic-partition per-chunk sink: re-emitting chunk 1 replaces
    chunk 1's partition and leaves chunk 0's files untouched."""
    cols = ["chunk_id", "src", "cand", "score", "accepted"]
    out = str(tmp_path / "align_chunked")
    first = spark.createDataFrame(
        [
            (0, "http://a/1", "http://b/1", 0.9, True),
            (1, "http://a/2", "http://b/2", 0.8, True),
            (1, "http://a/9", "http://b/9", 0.1, False),  # filtered out
        ],
        cols,
    )
    write_alignments_by_chunk(first, out, "txt")
    chunk0_before = _read_bytes_sorted(out + "/chunk_id=0")
    # resume re-emits chunk 1 with a corrected alignment
    redo = spark.createDataFrame(
        [(1, "http://a/2", "http://b/2fixed", 0.85, True)], cols
    )
    write_alignments_by_chunk(redo, out, "txt")
    assert _read_bytes_sorted(out + "/chunk_id=0") == chunk0_before
    chunk1 = spark.read.text(out + "/chunk_id=1").collect()
    assert [r.value for r in chunk1] == ["http://a/2=http://b/2fixed"]


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
