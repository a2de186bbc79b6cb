"""spark-submit entry point mirroring the reference CLI (serimi.rb:11-120).

    spark-submit --py-files serimi_rdf_interlinking_spark.zip \
        -m serimi_rdf_interlinking_spark.cli \
        --source /data/source_triples --target /data/target_triples \
        --klass http://src.test/class/City --output /out/alignments \
        -k 20 -y 0.7 --format txt

Reference flags -> options (intended semantics; the reference's -p/-u
option-key bugs, serimi.rb:58-61,74-77, are not replicated):
  -s/--source  source triples table    -t/--target  target triples table
  -c/--klass   class URI               -o/--output  alignment output dir
  -k           chunk size sigma        -y           string threshold
  -p           top-k per group         -u           carry pivots (sequential)
  -f/--format  txt | nt                -b           resume offset: handled by
                                       the pipeline's checkpoint state instead
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--source", "-s", required=True, help="source triples (parquet dir or Iceberg table)")
    p.add_argument("--target", "-t", required=True, help="target triples (parquet dir or Iceberg table)")
    p.add_argument("--klass", "-c", required=True, help="class URI to interlink")
    p.add_argument("--output", "-o", required=True, help="alignment output dir")
    p.add_argument("-k", "--chunk", type=int, default=20)
    p.add_argument("-y", "--string-threshold", type=float, default=0.7)
    p.add_argument("--rds-threshold", type=float, default=None)
    p.add_argument("-p", "--topk", type=int, default=0)
    p.add_argument("-u", "--use-pivot", action="store_true")
    p.add_argument("-f", "--format", choices=["txt", "nt"], default="txt")
    p.add_argument(
        "-a", "--append",
        action="store_true",
        help="merge with existing output instead of truncating "
        "(reference -a, initializer.rb:23-25) — idempotent: re-running "
        "the same job yields identical output, never duplicated lines",
    )
    p.add_argument("--mode", choices=["batch", "sequential"], default="batch")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--run-id", default="run0")
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=32)
    p.add_argument("--dbpedia-target", action="store_true")
    p.add_argument(
        "--word-by-word",
        action="store_true",
        help="J4 word-by-word fallback tier (dead code in the "
        "reference, $word_by_word never set; intended semantics "
        "implemented opt-in)",
    )
    p.add_argument(
        "--drop-redirect-candidates",
        action="store_true",
        help="F7 search-time redirect anti-join (dead code in the "
        "reference; trades alias-only recall for candidate budget)",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from .config import SerimiConfig
    from .matcher import SerimiMatcher
    from .session import get_spark
    from .sources.alignments import write_alignments
    from .sources.io import read_table

    cfg = SerimiConfig(
        chunk=args.chunk,
        string_threshold=args.string_threshold,
        rds_threshold=args.rds_threshold,
        topk=args.topk,
        use_pivot=args.use_pivot,
        mode="sequential" if args.use_pivot else args.mode,
        checkpoint_dir=args.checkpoint_dir,
        run_id=args.run_id,
        shuffle_partitions=args.shuffle_partitions,
        dbpedia_target=args.dbpedia_target,
        drop_redirect_candidates=args.drop_redirect_candidates,
        word_by_word=args.word_by_word,
    )
    from pyspark.sql import SparkSession

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="serimi-cli", master=args.master,
                      shuffle_partitions=args.shuffle_partitions)
    source = read_table(spark, args.source)
    target = read_table(spark, args.target)
    res = SerimiMatcher(cfg).run(spark, source, target, args.klass)
    write_alignments(
        res.alignments, args.output, args.format,
        mode="append" if args.append else "overwrite",
    )
    n = res.alignments.count()
    print(f"wrote {n} alignments to {args.output} ({args.format})")
    if not preexisting:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
