"""KG-construction pipeline: pages → extract → link → canonicalize →
materialize, checkpointed per stage and idempotently resumable.

north_rule requirements covered here:
* per-stage checkpoints: every stage writes its output as parquet
  under <checkpoint_dir>/<run_id>/<stage>/out and records completion in
  _state.json;
* resume: a rerun with the same run_id skips completed stages by
  reading their committed outputs — killing the driver between stages
  and rerunning yields byte-identical results;
* lineage + counters: every stage writes one file,
  lineage/part-<stage>.parquet, of (run_id, stage, partition_id,
  rows_in, rows_out, detail) rows — one stage row, plus per-partition
  row counts for extract — and renames it into place before committing
  the stage, so a crash and resume leaves exactly one row set per stage.

The reference analogue is the `-b` offset-resume flag + sequential
chunk loop (serimi.rb:62-65, initializer.rb:84-87,93-130).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import SerimiConfig
from ..extract import extract_triples, mention_uri, mentions_as_source_triples
from ..matcher import SerimiMatcher
from ..operators.graph import canonical_mapping
from ..session import Checkpoints, conf_override
from ..sources.triples import OWL_SAMEAS, WIKI_REDIRECT

# minimum label Jaccard of the opt-in LSH recovery tier's matches
LSH_RECOVERY_THRESHOLD = 0.5


@dataclass
class PipelineResult:
    triples_out: DataFrame        # canonical extracted triples
    alignments: DataFrame         # (source, target, score)
    canonical_ids: DataFrame      # (entity, canonical)
    lineage: DataFrame
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)


class KGPipeline:
    STAGES = ["extract", "link", "canonicalize", "materialize"]

    def __init__(
        self,
        cfg: SerimiConfig,
        checkpoint_dir: str,
        run_id: str = "run0",
        lsh_recovery: bool = False,
    ):
        self.cfg = cfg
        self.root = os.path.join(checkpoint_dir, run_id)
        self.run_id = run_id
        self._state_path = os.path.join(self.root, "_state.json")
        # opt-in second selection tier (north_star: "tokenized
        # inverted-index broadcast + LSH-blocked similarity join on
        # rdfs:label/name predicates"): mentions the exact-token
        # matcher left unlinked get a fuzzy LSH pass. Default off —
        # the reference-parity alignment pins cover the default path.
        self.lsh_recovery = lsh_recovery
        # localCheckpoints a stage pins; released once it commits or raises
        self._ckpts = Checkpoints()

    # -- state ---------------------------------------------------------------
    def _state(self) -> dict:
        if os.path.exists(self._state_path):
            with open(self._state_path) as f:
                return json.load(f)
        return {"done": []}

    def _mark_done(self, stage: str) -> None:
        st = self._state()
        if stage not in st["done"]:
            st["done"].append(stage)
        os.makedirs(self.root, exist_ok=True)
        tmp = self._state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(st, f)
        os.replace(tmp, self._state_path)  # atomic commit

    def _lineage_append(
        self,
        stage: str,
        rows_in: int,
        rows_out: int,
        per_partition: list[tuple[int, int]] | None = None,
    ) -> None:
        # lineage rows are driver-side metadata (a handful of rows per
        # stage): write them with pyarrow directly instead of a Spark
        # createDataFrame + append job — the job costs ~0.5s of pure
        # scheduling per stage at any scale, the file is identical
        # parquet with the same schema, and spark.read.parquet reads it
        # unchanged (schema asserted by the pipeline tests)
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = [(self.run_id, stage, None, rows_in, rows_out, None)]
        for pid, cnt in per_partition or []:
            rows.append((self.run_id, stage, pid, None, cnt, "partition_rows_out"))
        table = pa.table(
            {
                "run_id": pa.array([r[0] for r in rows], pa.string()),
                "stage": pa.array([r[1] for r in rows], pa.string()),
                "partition_id": pa.array([r[2] for r in rows], pa.int32()),
                "rows_in": pa.array([r[3] for r in rows], pa.int64()),
                "rows_out": pa.array([r[4] for r in rows], pa.int64()),
                "detail": pa.array([r[5] for r in rows], pa.string()),
            }
        )
        # one file per stage, renamed into place like _mark_done: a
        # rerun of a stage that died before its commit replaces that
        # stage's rows instead of adding a second set, and a torn write
        # leaves only a dot-file, which Spark and pyarrow.dataset skip
        out_dir = os.path.join(self.root, "lineage")
        os.makedirs(out_dir, exist_ok=True)
        tmp = os.path.join(out_dir, f".part-{stage}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"part-{stage}.parquet"))

    # -- stages ---------------------------------------------------------------
    def run(
        self,
        spark: SparkSession,
        pages: DataFrame,
        target: DataFrame,
        stop_after: str | None = None,
    ) -> PipelineResult:
        # right-size the shuffle width for this workload across ALL
        # stages (extract/canonicalize/materialize, not just the
        # matcher's own save/restore): at fixture scale a 32-way
        # shuffle of ~100 rows costs more in task scheduling than it
        # gains; on a real corpus cfg.shuffle_partitions carries the
        # cluster's parallelism. Restored after the run.
        with conf_override(
            spark, {"spark.sql.shuffle.partitions": str(self.cfg.shuffle_partitions)}
        ):
            return self._run_stages(spark, pages, target, stop_after)

    def _run_stages(
        self,
        spark: SparkSession,
        pages: DataFrame,
        target: DataFrame,
        stop_after: str | None = None,
    ) -> PipelineResult:
        done = set(self._state()["done"])
        ran: list[str] = []
        skipped: list[str] = []
        outs: dict[str, DataFrame] = {}
        for stage in self.STAGES:
            path = os.path.join(self.root, stage, "out")
            if stage in done:
                outs[stage] = spark.read.parquet(path)
                skipped.append(stage)
            else:
                try:
                    outs[stage] = self._build(spark, stage, path, pages, target, outs)
                finally:
                    self._ckpts.release()
                ran.append(stage)
            if stage == stop_after:
                break
        return self._result(spark, ran, skipped, outs)

    def _build(self, spark, stage, path, pages, target, outs) -> DataFrame:
        """Write, read back, count, lineage, commit: the committed output."""
        consumed, built = getattr(self, f"_{stage}")(spark, pages, target, outs)
        writer = built.write.mode("overwrite")
        if stage == "materialize":
            writer = writer.partitionBy("bucket")
        writer.parquet(path)
        out = spark.read.parquet(path)
        per_part = None
        if stage == "extract":
            per_part = [
                (r.pid, r.cnt)
                for r in out.groupBy(
                    F.spark_partition_id().alias("pid")
                ).agg(F.count("*").alias("cnt")).collect()
            ]
        rows_in = consumed.count()
        # extract's rows_out is the sum of the per-partition counts just
        # collected — a second full count() job over the same table
        # would recompute the identical number
        rows_out = out.count() if per_part is None else sum(c for _, c in per_part)
        self._lineage_append(stage, rows_in, rows_out, per_part)
        self._mark_done(stage)
        return out

    # -- stage bodies ---------------------------------------------------------
    # each gets the committed outputs of the earlier stages (`outs`) and
    # returns (the frame counted as its rows_in, the frame to write)
    def _extract(self, spark, pages, target, outs) -> tuple[DataFrame, DataFrame]:
        return pages, extract_triples(pages, from_html=False)

    def _link(self, spark, pages, target, outs) -> tuple[DataFrame, DataFrame]:
        # materialize once: the matcher consumes its source frame in
        # many stages, and the mention lift is a 3-way union of
        # distincts over the extract table — left lazy it would
        # re-execute per consuming stage (multi-consumer
        # re-execution; localCheckpoint truncates in memory)
        mentions = self._ckpts(mentions_as_source_triples(outs["extract"]))
        res = SerimiMatcher(self.cfg).run(
            spark, mentions, target, "mention://class/Entity"
        )
        self._ckpts.add(res.scores)
        aligned = res.alignments
        if self.lsh_recovery:
            aligned = aligned.unionByName(
                lsh_recovery_alignments(mentions, target, aligned)
            )
        return mentions, aligned

    def _canonicalize(self, spark, pages, target, outs) -> tuple[DataFrame, DataFrame]:
        alignments = outs["link"]
        sameas_edges = alignments.select(
            F.col("source").alias("src"), F.col("target").alias("dst")
        ).unionByName(
            target.filter(F.col("p") == OWL_SAMEAS).select(
                F.col("s").alias("src"), F.col("o").alias("dst")
            )
        )
        redirects = target.filter(F.col("p") == WIKI_REDIRECT).select(
            F.col("s").alias("src"), F.col("o").alias("dst")
        )
        return alignments, canonical_mapping(sameas_edges, redirects)

    def _materialize(self, spark, pages, target, outs) -> tuple[DataFrame, DataFrame]:
        extracted = outs["extract"]
        lifted = extracted.select(
            mention_uri("s").alias("s"), "p", "o", "o_is_uri", "src_url"
        )
        cmap = outs["canonicalize"].select(
            F.col("entity").alias("s"), F.col("canonical").alias("s_canon")
        )
        triples_out = (
            lifted.join(cmap, "s", "left")
            .withColumn("s", F.coalesce("s_canon", "s"))
            .drop("s_canon")
            .distinct()
            # salted, skew-aware layout (north_star): the salt
            # hashes the WHOLE triple, not just the subject — a
            # subject-only hash would put a hot entity's entire
            # fan-in into one bucket, which is the skew salting
            # exists to break. Full-row salting spreads each hot
            # subject uniformly over all buckets; readers filter on
            # s across buckets (the standard salted-layout trade).
            .withColumn("bucket", F.pmod(F.xxhash64("s", "p", "o"), F.lit(16)))
            .repartition("bucket")
        )
        return extracted, triples_out

    # -- assembling the result -------------------------------------------------
    def _result(
        self,
        spark: SparkSession,
        ran: list[str],
        skipped: list[str],
        outs: dict[str, DataFrame],
    ) -> PipelineResult:
        empty_al = spark.createDataFrame([], "source string, target string, score double")
        empty_cc = spark.createDataFrame([], "entity string, canonical string")
        empty_tr = spark.createDataFrame(
            [], "s string, p string, o string, o_is_uri boolean, src_url string"
        )
        lineage_path = os.path.join(self.root, "lineage")
        if os.path.exists(lineage_path):
            lineage = spark.read.parquet(lineage_path)
        else:
            lineage = spark.createDataFrame(
                [],
                "run_id string, stage string, partition_id int, rows_in long,"
                " rows_out long, detail string",
            )
        return PipelineResult(
            triples_out=outs.get("materialize", outs.get("extract", empty_tr)),
            alignments=outs.get("link", empty_al),
            canonical_ids=outs.get("canonicalize", empty_cc),
            lineage=lineage,
            stages_run=ran,
            stages_skipped=skipped,
        )


def lsh_recovery_alignments(
    mentions: DataFrame,
    target: DataFrame,
    matched: DataFrame,
) -> DataFrame:
    """Second selection tier (north_star): mentions the exact-token
    matcher left unlinked, recovered by an LSH-blocked similarity join
    between their surface labels and the target's rdfs:label/name
    literals — typo/spacing variants share no exact token, so the
    inverted-index tier cannot retrieve them, but character-shingle
    minhash buckets can. One candidate per mention: the
    highest-jaccard target (ties broken by max target URI — any
    deterministic rule works; the struct-max keeps it one aggregate).

    Scale shape: anti-join (matched side broadcast-able — alignments
    are mention-bounded), then the banded LSH join; nothing here
    touches an all-pairs axis. Returns (source, target, score)."""
    from ..operators.blocking import lsh_label_join
    from ..sources.triples import RDFS_LABEL

    unmatched = (
        mentions.filter(F.col("p") == RDFS_LABEL)
        .join(
            matched.select(F.col("source").alias("s")), "s", "left_anti"
        )
        .select(F.col("s").alias("src_id"), F.col("o").alias("label"))
    )
    tgt_labels = (
        target.filter(
            (F.col("p") == RDFS_LABEL) | F.col("p").endswith("name")
        )
        .filter(~F.col("o_is_uri"))
        .select(F.col("s").alias("tgt_id"), F.col("o").alias("label"))
    )
    pairs = lsh_label_join(
        unmatched, tgt_labels, verify_threshold=LSH_RECOVERY_THRESHOLD
    )
    return (
        pairs.groupBy("src_id")
        .agg(F.max(F.struct("jaccard", "tgt_id")).alias("best"))
        .select(
            F.col("src_id").alias("source"),
            F.col("best.tgt_id").alias("target"),
            F.col("best.jaccard").alias("score"),
        )
    )

