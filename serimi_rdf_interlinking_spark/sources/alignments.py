"""S6/S7 — alignment sink + gold-alignment reader.

Output format parity with the reference (initializer.rb:254-263):
* txt — `source=target` lines with angle brackets stripped
  (initializer.rb:258 gsub(/[<>]/,""));
* nt  — `<s> <http://www.w3.org/2002/07/owl#sameAs> <t> .` triples.

The gold reader parses the reference's `src=tgt` files
(util/file4.rb:64-72; cf. dailymed-tcm-modified.txt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .triples import OWL_SAMEAS


def _line_expr(fmt: str):
    strip = lambda c: F.regexp_replace(c, r"[<>]", "")
    if fmt == "txt":
        return F.concat(strip(F.col("source")), F.lit("="), strip(F.col("target")))
    if fmt == "nt":
        return F.concat(
            F.lit("<"), strip(F.col("source")), F.lit("> <"),
            F.lit(OWL_SAMEAS), F.lit("> <"), strip(F.col("target")), F.lit("> ."),
        )
    raise ValueError(f"unknown alignment format {fmt!r}")


def alignment_lines(alignments: DataFrame, fmt: str = "txt") -> DataFrame:
    """One-column DataFrame of formatted output lines."""
    return alignments.select(_line_expr(fmt).alias("value")).orderBy("value")


TMP_SUFFIX = ".__append_tmp__"
ASIDE_SUFFIX = ".__old__"


def _recover_append_state(fs, jvm, path: str) -> None:
    """Crash recovery for the append swap, run before any read of
    `path`. Swap protocol invariants: tmp is only ever renamed into
    place AFTER it is completely written, and the live dir is renamed
    aside (not deleted) before tmp moves in — so at every crash point
    either the live dir or a COMPLETE tmp exists:

    * live missing + tmp present (crash between rename-aside and
      rename-tmp): the tmp holds the full merged output — complete the
      swap by renaming it into place;
    * live present + tmp present (crash during the tmp write): the tmp
      is possibly partial garbage — delete it;
    * any leftover aside dir is a fully superseded copy — delete it.
    """
    live = jvm.org.apache.hadoop.fs.Path(path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + TMP_SUFFIX)
    aside = jvm.org.apache.hadoop.fs.Path(path + ASIDE_SUFFIX)
    if not fs.exists(live) and fs.exists(tmp):
        # tmp is the ONLY complete copy here — Hadoop rename() signals
        # failure by returning False (it rarely throws), and falling
        # through to the deletes below would destroy that copy, so a
        # failed restore aborts instead
        if not fs.rename(tmp, live):
            raise IOError(
                f"append recovery: rename({tmp}, {live}) failed; "
                "tmp holds the only complete copy — not deleting it"
            )
    if fs.exists(tmp):
        fs.delete(tmp, True)
    # the aside copy is superseded ONLY once a live dir exists again
    if fs.exists(aside) and fs.exists(live):
        fs.delete(aside, True)


def write_alignments(
    alignments: DataFrame, path: str, fmt: str = "txt", mode: str = "overwrite"
) -> None:
    """Text sink (one file per partition; coalesce(1) for the
    reference's single-file contract at small scale).

    mode="append" is the reference's -a flag (initializer.rb:23-25),
    made IDEMPOTENT: existing lines are merged with the new ones,
    deduplicated, and the directory is swapped in place — so a resumed
    run that re-emits the same alignments yields byte-identical output
    instead of doubled lines (a raw file-append would duplicate). The
    swap is CRASH-SAFE: the old dir is renamed aside before the tmp
    moves into place (never delete-then-rename, which strands the
    merged data under a tmp name if the process dies between the two),
    and `_recover_append_state` runs first so a rerun after any crash
    point resumes from a consistent state. The swap goes through the
    Hadoop FileSystem API, so it works on any supported filesystem,
    not just local paths."""
    lines = alignment_lines(alignments, fmt)
    spark = alignments.sparkSession
    if mode == "append":
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        _recover_append_state(fs, jvm, path)
        if fs.exists(hpath):
            merged = (
                spark.read.text(path)
                .unionByName(lines)
                .distinct()
                .orderBy("value")
            )
            tmp = jvm.org.apache.hadoop.fs.Path(path + TMP_SUFFIX)
            aside = jvm.org.apache.hadoop.fs.Path(path + ASIDE_SUFFIX)
            merged.coalesce(1).write.mode("overwrite").text(str(tmp))
            # Hadoop rename() reports failure via its return value —
            # every step checks it so no state both deletes the live
            # copy and loses the merged tmp
            if not fs.rename(hpath, aside):
                raise IOError(
                    f"append swap: rename({hpath}, {aside}) failed; "
                    "live output left untouched"
                )
            if not fs.rename(tmp, hpath):
                fs.rename(aside, hpath)  # restore the old live copy
                raise IOError(
                    f"append swap: rename({tmp}, {hpath}) failed; "
                    "previous output restored"
                )
            fs.delete(aside, True)
            return
    elif mode != "overwrite":
        raise ValueError(f"unknown write mode {mode!r}")
    lines.coalesce(1).write.mode("overwrite").text(path)


def read_gold_alignments(spark: SparkSession, path: str) -> DataFrame:
    """`src=tgt` lines -> (source, target). Handles the reference gold
    files' URL-encoded targets by decoding percent-escapes the way the
    eval harness does (util/file4.rb:94-97 CGI unescape)."""
    lines = spark.read.text(path)
    eq = F.instr(F.col("value"), "=")
    df = (
        lines.filter(eq > 0)
        .select(
            F.trim(F.expr("substring(value, 1, instr(value, '=') - 1)")).alias("source"),
            F.trim(F.expr("substring(value, instr(value, '=') + 1)")).alias("target"),
        )
        .filter((F.col("source") != "") & (F.col("target") != ""))
        .withColumn("target", F.url_decode("target"))
        .distinct()
    )
    return df
