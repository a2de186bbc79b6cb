"""SerimiMatcher — the two-phase interlinking pipeline, Spark-first.

Query lifecycle parity with the reference (SURVEY.md §3):

1. label-property selection over a bounded class sample (A1/A2) +
   stop-word mining (A3) — one driver-small collect + two aggregations;
2. blocking order + chunk assignment (A12/O4/O5) — distributed sort;
3. warm-up chunk (the reference's first 5 sources with the '?p'
   any-predicate search, initializer.rb:94-98) — learns the text
   predicates ($textp) and the searchable predicates
   ($word_by_word_properties, frozen afterwards in batch mode);
4. batched candidate retrieval for all remaining chunks at once
   (J2/J3 + F11) — inverted-index joins instead of one SPARQL round
   trip per source resource (the reference's central bottleneck,
   SURVEY.md §3 entry point 2);
5. chunk-parallel F12 + F13 + RDS scoring + adaptive thresholds via
   groupBy(chunk bucket).applyInPandas.

Steps 3 and 5 and the sequential loop score a chunk through the same
path in operators/rds.py: `parse_chunk` groups the chunk's rows per
source, and the scorer from `make_chunk_scorer` runs F12 → F13 →
`rds_core.score_chunk` (with the pivot FIFO in sequential mode).

Batch-mode divergences from the strictly sequential reference, both
documented in SURVEY.md §7: the searchable-predicate list does not
evolve after the warm-up (no per-hit promotion), and pivots
(use_pivot) require mode='sequential'. mode='sequential' IS
promotion-faithful: each chunk re-retrieves with the evolving
searchable-predicate order (search_module.rb:107-108) and single-group
chunks retry with a doubled limit (O5, initializer.rb:106-122).
"""

from __future__ import annotations

import logging

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

from .config import SerimiConfig
from .functions.columns import lit_map
from .operators import rds_core
from .operators.blocking import WARMUP_CHUNK, blocking_order
from .operators.candidates import (
    and_hits,
    apply_hot_token_cap,
    f11_passing,
    phrase_hits,
    prepare_keywords,
    raw_token_index,
    search_index,
    select_candidates,
    target_literals,
    word_hits,
)
from .operators.labels import (
    class_members,
    collect_class_sample,
    mine_stopwords,
    select_entity_labels,
)
from .operators.rds import (
    CHUNK_OUTPUT_SCHEMA,
    make_chunk_kernel,
    make_chunk_scorer,
    parse_chunk,
)
from .session import Checkpoints, conf_override
from .sources.triples import WIKI_REDIRECT

KW_KEY = ["s", "rank", "chunk_id", "label_idx", "kw"]
MAX_SEARCH_PREDICATES = 6  # $word_by_word_properties cap (serimi_module.rb:29)
PIVOT_FIFO = 10            # pivot FIFO cap (serimi_class.rb:281,292-296)
# batch-mode RDS kernel: number of chunks scored inside one pandas
# group. Thousands of ~20-row chunks as individual applyInPandas
# groups are dominated by Arrow dispatch overhead; bucketing amortizes
# it while keeping per-group memory bounded at
# ~CHUNKS_PER_KERNEL_GROUP * sigma candidate descriptions.
CHUNKS_PER_KERNEL_GROUP = 8


@dataclass
class MatchResult:
    alignments: DataFrame  # (source, target, score)
    scores: DataFrame      # (chunk_id, src, cand, score, threshold, accepted)
    labels: list[str]
    stopwords: tuple[str, ...]
    textp: list[str]
    search_predicates: list[str]


class SerimiMatcher:
    def __init__(self, cfg: SerimiConfig | None = None):
        self.cfg = cfg or SerimiConfig()
        self._ckpts = Checkpoints()

    def _mat(self, df: DataFrame, name: str) -> DataFrame:
        """Materialize a stage boundary.

        Every downstream stage reuses these frames several times; without
        materialization the logical plan re-explodes at each layer (the
        reference's equivalent is its per-query memo cache,
        sparql.rb:78-93). With cfg.checkpoint_dir set this doubles as
        the per-stage checkpoint the north_rule requires (parquet here;
        Iceberg tables on a real deployment); otherwise an eager
        localCheckpoint truncates lineage in memory.
        """
        if self.cfg.checkpoint_dir:
            path = f"{self.cfg.checkpoint_dir}/{self.cfg.run_id}/{name}"
            df.write.mode("overwrite").parquet(path)
            return df.sparkSession.read.parquet(path)
        return self._ckpts(df)

    # -- retrieval for one keyword frame against one index ----------------
    def _retrieve(
        self,
        keywords: DataFrame,
        index: DataFrame,
        lits: DataFrame,
        tiers: dict[str, int] | None,
        textp: list[str] | None,
        stopwords: tuple[str, ...],
        name: str,
    ):
        cfg = self.cfg

        def passing_hits(hits: DataFrame, tier: int) -> DataFrame:
            return self._mat(
                f11_passing(hits, lits, textp, stopwords, cfg),
                f"{name}_p{tier}",
            )

        # the search cascade (break-on-first-hit): a later tier searches
        # only the searchable keywords every earlier tier missed, and
        # stops at the first empty miss set — on well-matched data tier 1
        # finds everything, and the emptiness probe over materialized
        # frames costs far less than an f11 job with its pandas-UDF
        # stages. Word-by-word (J4) is opt-in: dead code in the reference
        # ($word_by_word never set).
        passing = [passing_hits(phrase_hits(keywords, index, tiers), 1)]
        missed = keywords.filter("searchable")
        later = [and_hits] + ([word_hits] if cfg.word_by_word else [])
        for tier, search in enumerate(later, start=2):
            missed = missed.join(
                passing[-1].select(*KW_KEY).distinct(), KW_KEY, "left_anti"
            )
            if missed.isEmpty():
                break
            passing.append(
                passing_hits(search(missed, index, tiers, stopwords), tier)
            )
        cr = select_candidates(keywords, *passing)
        # one checkpoint for pairs+searched instead of two: both are
        # multi-consumer downstream, but each eager materialization is a
        # full Spark job and the fixed job overhead dominates at small
        # chunk sizes (the round-1 job-count finding)
        combo = self._mat(
            cr.pairs.select(
                "chunk_id", "rank", "s", F.col("cand").alias("val"),
                F.lit("pair").alias("kind"),
            ).unionByName(
                cr.searched.select(
                    "chunk_id", "rank", "s", F.col("kw").alias("val"),
                    F.lit("kw").alias("kind"),
                )
            ),
            f"{name}_out",
        )
        cr.pairs = combo.filter(F.col("kind") == "pair").select(
            "chunk_id", "rank", "s", F.col("val").alias("cand")
        )
        cr.searched = combo.filter(F.col("kind") == "kw").select(
            "chunk_id", "rank", "s", F.col("val").alias("kw")
        )
        cr.passing = passing
        return cr

    # -- sequential-mode promotion fold ------------------------------------
    def _fold_promotions(self, cr, order: list[str]) -> list[str]:
        """search_module.rb:107-108: after each keyword's search, the
        predicate that produced the hit ($found) is promoted to the
        front of $word_by_word_properties, so later keywords (and later
        chunks) try it first.

        Granularity notes (documented approximations of the strictly
        per-SPARQL-call reference):

        * the promoted predicate is the searched predicate of the
          keyword's winning tier, order[min(tier)]. The reference's
          $found is the predicate of the last PASSING TRIPLE seen by
          filter() (search_module.rb:252-260), which can be a
          non-searched predicate when another description literal
          passes ASM; but "last passing" follows the SPARQL describe
          order, which is endpoint-dependent and nondeterministic, so
          the searched-tier predicate is a deterministic choice inside
          the reference's own ambiguity envelope (SURVEY.md §7);
        * inside and_search the 'nsw' variant's filter() runs last
          (search_module.rb:152-167), so when both variants pass, the
          nsw predicate is the one promoted;
        * keyword fold order is (rank, label_idx, kw) — entity order
          by blocking rank, then the reference's per-entity label
          iteration.
        """
        key = ["rank", "label_idx", "kw"]
        tier = F.min("tier").alias("tier")
        t1 = {
            (r.rank, r.label_idx, r.kw): r.tier
            for r in cr.passing[0].groupBy(*key).agg(tier).collect()
        }
        # tiers 1-2 only: the reference's $found would never have come
        # from the word-by-word tier
        t2and: dict[tuple, int] = {}
        t2nsw: dict[tuple, int] = {}
        for p2 in cr.passing[1:2]:
            for r in p2.groupBy(*key, "variant").agg(tier).collect():
                d = t2nsw if r.variant == "nsw" else t2and
                d[(r.rank, r.label_idx, r.kw)] = r.tier

        # a tier-1 hit means and_search never ran; the nsw filter()
        # runs after 'and'
        won_tier = {**t2and, **t2nsw, **t1}
        new_order = list(order)
        for k in sorted(won_tier):
            won = order[won_tier[k]]
            new_order = [won] + [p for p in new_order if p != won]
        return new_order

    # -- batch-mode singleton-chunk merge (O5 analogue) --------------------
    def _merge_singleton_chunks(self, cr):
        """The reference's double-and-retry (O5, initializer.rb:106-122)
        absorbs a chunk whose retrieval found candidates for only ONE
        source into the following span — RDS needs >= 2 groups (a
        pseudo-class) to disambiguate, so a singleton chunk would
        otherwise emit nothing. The sequential loop implements the
        stateful doubling; the batch path gets the same recall by
        REASSIGNING chunk ids: walk chunks in order, accumulating until
        a span holds >= 2 retrieved sources (forward merge, like the
        doubled limit). A trailing span still short of 2 merges
        backward into the last emitted span — an intended-semantics
        improvement over the reference's tail-drop (SURVEY §7). The
        per-chunk stats frame is one row per chunk (tiny collect)."""
        counts = sorted(
            (r.chunk_id, r.n)
            for r in cr.pairs.groupBy("chunk_id")
            .agg(F.countDistinct("s").alias("n"))
            .collect()
        )
        new_ids: dict[int, int] = {}
        span: list[int] = []
        span_n = 0
        last_tgt = None
        for cid, n in counts:
            span.append(cid)
            span_n += n
            if span_n >= 2:
                tgt = span[0]
                for c in span:
                    new_ids[c] = tgt
                last_tgt = tgt
                span, span_n = [], 0
        if span and last_tgt is not None:
            for c in span:
                new_ids[c] = last_tgt
        remap = {k: v for k, v in new_ids.items() if k != v}
        if not remap:
            return cr
        log.info(
            "batch mode: merging %d singleton chunk(s) into scorable "
            "spans (O5 analogue)",
            len(remap),
        )
        m = lit_map(remap)
        for attr in ("pairs", "searched"):
            df = getattr(cr, attr)
            setattr(
                cr,
                attr,
                df.withColumn(
                    "chunk_id",
                    F.coalesce(m[F.col("chunk_id")], F.col("chunk_id")),
                ),
            )
        return cr

    # -- chunk-kernel input assembly --------------------------------------
    def _chunk_input(
        self, cand_result, source: DataFrame, target: DataFrame
    ) -> DataFrame:
        pairs = cand_result.pairs  # (chunk_id, rank, s, cand)
        searched = cand_result.searched

        desc = target.filter(~F.col("is_bnode")).select(
            F.col("s").alias("cand"), "p", "o", "o_is_uri"
        )
        cand_rows = (
            pairs.join(desc, "cand")
            .select(
                "chunk_id",
                "rank",
                F.col("s").alias("src"),
                F.lit("cand").alias("role"),
                "cand",
                "p",
                "o",
                "o_is_uri",
            )
        )
        srcs = pairs.select("chunk_id", "rank", "s").distinct()
        origin_rows = (
            srcs.join(source, "s")
            .select(
                "chunk_id",
                "rank",
                F.col("s").alias("src"),
                F.lit("origin").alias("role"),
                F.lit("").alias("cand"),
                "p",
                "o",
                "o_is_uri",
            )
            .distinct()
        )
        kw_rows = searched.select(
            "chunk_id",
            "rank",
            F.col("s").alias("src"),
            F.lit("kw").alias("role"),
            F.lit("").alias("cand"),
            F.col("kw").alias("p"),
            F.lit("").alias("o"),
            F.lit(False).alias("o_is_uri"),
        )
        rows = cand_rows.unionByName(origin_rows).unionByName(kw_rows)

        if self.cfg.dbpedia_target:
            redirects = target.filter(F.col("p") == WIKI_REDIRECT).select(
                F.col("s").alias("alias"), F.col("o").alias("rtarget")
            )
            hit_aliases = pairs.join(
                redirects, pairs["cand"] == redirects["alias"]
            )
            rdir_rows = hit_aliases.select(
                "chunk_id",
                "rank",
                F.col("s").alias("src"),
                F.lit("rdir").alias("role"),
                F.col("alias").alias("cand"),
                F.lit("").alias("p"),
                F.col("rtarget").alias("o"),
                F.lit(True).alias("o_is_uri"),
            ).distinct()
            rdesc = (
                hit_aliases.select(F.col("rtarget").alias("cand")).distinct()
                .join(desc, "cand")
            )
            rdesc_rows = (
                hit_aliases.select("chunk_id", "rank", "s", "rtarget")
                .distinct()
                .join(rdesc, hit_aliases["rtarget"] == rdesc["cand"])
                .select(
                    "chunk_id",
                    "rank",
                    F.col("s").alias("src"),
                    F.lit("rdesc").alias("role"),
                    "cand",
                    "p",
                    "o",
                    "o_is_uri",
                )
                .distinct()
            )
            rows = rows.unionByName(rdir_rows).unionByName(rdesc_rows)
        return rows

    def _chunk_scorer(self, textp: list[str], stopwords: tuple[str, ...]):
        cfg = self.cfg
        return make_chunk_scorer(
            textp,
            stopwords,
            topk=cfg.topk,
            rds_threshold=cfg.rds_threshold,
            filter_threshold=cfg.string_threshold,
        )

    # -- warm-up: learn textp + searchable predicates ----------------------
    def _warmup(self, cand_result, source, target, stopwords):
        """Collects the warm-up chunk (<=5 sources) and replays the
        reference's chunk-1 math on the driver: $textp from the chunk's
        candidate data (serimi_module.rb:179) and the searchable
        predicates from its discriminative entropy (serimi_module.rb:28-30).
        F13 applies to the warm-up chunk too (serimi_module.rb:86 runs
        for every chunk). Returns (textp, search_predicates, score_rows)."""
        chunk = parse_chunk(self._chunk_input(cand_result, source, target).collect())
        textp = rds_core.get_text_properties(chunk.groups)
        rows, disc = self._chunk_scorer(textp, stopwords)(chunk)
        return textp, disc[:MAX_SEARCH_PREDICATES], [(0, *r) for r in rows]

    # -- reference-parity sequential chunk loop -----------------------------
    def _run_sequential_loop(
        self,
        source: DataFrame,
        target: DataFrame,
        lits: DataFrame,
        keywords: DataFrame,
        index: DataFrame,
        order0: list[str],
        textp: list[str],
        stopwords: tuple[str, ...],
    ) -> list[tuple]:
        """mode='sequential': the reference's driver loop
        (initializer.rb:93-130) with

        * rank-window chunks: offset starts after the warm-up span,
          limit = sigma;
        * O5 double-and-retry (initializer.rb:106-122): a chunk where
          only ONE source retrieved candidates rewinds and retries the
          same offset with a doubled limit (cap 100); the doubled limit
          persists for later chunks, as in the reference;
        * per-chunk retrieval with the evolving searchable-predicate
          order — the promotion fold runs after every attempt (the
          reference promotes during failed attempts too, since search()
          executed for those subjects);
        * the pivot FIFO and F13 redirect expansion per chunk.

        One chunk collects at a time — this is the parity mode, not the
        scale path. Intended-semantics divergence (SURVEY §7 policy):
        the reference exits the whole loop when a doubled limit exceeds
        the instance count (`while ... limit <= count`,
        initializer.rb:93), silently dropping the tail; we process the
        final short span instead.
        """
        cfg = self.cfg
        max_rank = keywords.agg(F.max("rank")).collect()[0][0]
        count = (max_rank if max_rank is not None else -1) + 1
        order = list(order0)
        score = self._chunk_scorer(textp, stopwords)
        pivots = rds_core.PivotFifo(PIVOT_FIFO) if cfg.use_pivot else None
        out: list[tuple] = []
        offset, limit = WARMUP_CHUNK, cfg.chunk
        chunk_id = 1
        while offset < count:
            span = keywords.filter(
                (F.col("rank") >= offset) & (F.col("rank") < offset + limit)
            )
            tiers = {p: i for i, p in enumerate(order)} if order else None
            cr = self._retrieve(
                span, index, lits, tiers, textp, stopwords, f"seq{chunk_id}"
            )
            n_data = cr.pairs.select("s").distinct().count()
            if order:
                order = self._fold_promotions(cr, order)
            if n_data == 1 and offset + limit < count and limit < 100:
                limit += limit
                continue
            if n_data >= 2:
                cr.pairs = cr.pairs.withColumn("chunk_id", F.lit(chunk_id))
                cr.searched = cr.searched.withColumn(
                    "chunk_id", F.lit(chunk_id)
                )
                chunk = parse_chunk(self._chunk_input(cr, source, target).collect())
                rows, _disc = score(chunk, pivots)
                out.extend((chunk_id, *r) for r in rows)
            offset += limit
            chunk_id += 1
        self.final_search_order = order
        return out

    # -- the pipeline -------------------------------------------------------
    def run(
        self,
        spark: SparkSession,
        source: DataFrame,
        target: DataFrame,
        class_uri: str,
    ) -> MatchResult:
        cfg = self.cfg

        # right-size the shuffle width for this workload: at fixture
        # scale 32-way shuffles cost more in task scheduling than they
        # gain; on real corpora set cfg.shuffle_partitions to the
        # cluster's parallelism. Restored after the run.
        with conf_override(
            spark, {"spark.sql.shuffle.partitions": str(cfg.shuffle_partitions)}
        ):
            try:
                return self._run(spark, source, target, class_uri)
            finally:  # frees the boundaries of a run that raised
                self._ckpts.release()

    def _run(
        self,
        spark: SparkSession,
        source: DataFrame,
        target: DataFrame,
        class_uri: str,
    ) -> MatchResult:
        import time

        cfg = self.cfg
        t0 = time.time()
        # per-stage wall times of the last run (bench_scaling reads
        # these to separate the O(1) driver warm-up from the
        # corpus-proportional scale stages)
        self.last_timings: dict[str, float] = {}

        def tick(label: str) -> None:
            nonlocal t0
            self.last_timings[label] = round(time.time() - t0, 3)
            t0 = time.time()

        members = class_members(source, class_uri)
        sample = collect_class_sample(source, members)
        labels = select_entity_labels(sample)
        tick("labels")

        # stop-word mining, the blocking order + keyword prep, and the
        # raw token index are mutually independent (stopwords/blocking
        # read only source+members+labels; the index reads only target)
        # — submit them as concurrent jobs (guide §2.6: overlap
        # independent jobs) so one stage's stragglers back-fill with
        # the next stage's tasks. Results are deterministic per stage,
        # so completion order cannot change any downstream value.
        from concurrent.futures import ThreadPoolExecutor

        def _job_stopwords():
            return mine_stopwords(source, members, labels)

        def _job_keywords():
            # blocking_order pins its range-partitioned frame via our
            # _mat so the blocks are released with the other
            # intermediates
            ranked = blocking_order(
                source, members, labels, cfg,
                mat=lambda df: self._mat(df, "blocking_ordered"),
            )
            return self._mat(
                prepare_keywords(source, ranked, labels), "keywords"
            )

        lits = target_literals(target, cfg)  # read by the index and F11

        def _job_index():
            return self._mat(raw_token_index(lits), "index_all")

        with ThreadPoolExecutor(max_workers=3) as pool:
            f_sw = pool.submit(_job_stopwords)
            f_kw = pool.submit(_job_keywords)
            f_ix = pool.submit(_job_index)
            stopwords = f_sw.result()
            keywords = f_kw.result()
            index_raw = f_ix.result()
        tick("stopwords+blocking+index")

        # warm-up chunk: any-predicate search (wbwp == ['?p']). The RAW
        # index was materialized above; the hot-token guard scans the
        # checkpointed frame.
        index_all = apply_hot_token_cap(index_raw)
        kw0 = keywords.filter(F.col("chunk_id") == 0)
        cr0 = self._retrieve(kw0, index_all, lits, None, None, stopwords, "warm")
        tick("warm retrieve")
        textp, search_preds, warm_rows = self._warmup(
            cr0, source, target, stopwords
        )
        tick("warmup kernel")

        # the main-retrieval index is DERIVED from the materialized RAW
        # index (a predicate filter over the checkpointed frame)
        index = search_index(index_raw, index_all, search_preds)
        tiers = (
            {p: i for i, p in enumerate(search_preds)} if search_preds
            else None  # fallback: nothing learned
        )

        if cfg.mode == "sequential" or cfg.use_pivot:
            if cfg.use_pivot and cfg.mode != "sequential":
                log.warning(
                    "use_pivot=True forces the sequential driver loop "
                    "(mode=%r ignored): chunk input collects to the "
                    "driver one chunk at a time — a parity mode, not "
                    "the scale path",
                    cfg.mode,
                )
            seq_rows = self._run_sequential_loop(
                source, target, lits, keywords, index, search_preds, textp,
                stopwords,
            )
            tick("sequential loop")
            scored = spark.createDataFrame(
                warm_rows + seq_rows, CHUNK_OUTPUT_SCHEMA
            )
        else:
            # batched remaining chunks with the learned predicate
            # cascade (frozen after warm-up — SURVEY §7 divergence)
            kwN = keywords.filter(F.col("chunk_id") >= 1)
            crN = self._retrieve(
                kwN, index, lits, tiers, textp, stopwords, "main"
            )
            crN = self._merge_singleton_chunks(crN)
            tick("main retrieve")
            # chunk_input feeds exactly ONE consumer (the kernel's
            # groupBy shuffle, itself a barrier), so the eager
            # localCheckpoint bought nothing but an extra job + a copy
            # of the matcher's LARGEST intermediate; it still
            # materializes as a parquet stage checkpoint when
            # cfg.checkpoint_dir asks for durability
            chunk_input = self._chunk_input(crN, source, target)
            if self.cfg.checkpoint_dir:
                chunk_input = self._mat(chunk_input, "chunk_input")
            tick("chunk input")
            kernel = make_chunk_kernel(self._chunk_scorer(textp, stopwords))
            # group by a BUCKET of chunks, not per-chunk: the kernel
            # loops chunk_ids inside each pandas group, amortizing the
            # Arrow group-dispatch overhead over CHUNKS_PER_KERNEL_GROUP
            # chunks while keeping group memory bounded. Keyed on a
            # deterministic chunk_id division so co-bucketed chunks are
            # stable across runs/resumes.
            bucket = F.floor(
                F.col("chunk_id") / F.lit(CHUNKS_PER_KERNEL_GROUP)
            ).alias("kernel_bucket")
            scored = (
                chunk_input.withColumn("kernel_bucket", bucket)
                .groupBy("kernel_bucket")
                .applyInPandas(kernel, CHUNK_OUTPUT_SCHEMA)
            )
            if warm_rows:
                warm_df = spark.createDataFrame(warm_rows, CHUNK_OUTPUT_SCHEMA)
                scored = warm_df.unionByName(scored)
        scored = self._mat(scored, "scored")
        tick("rds kernel")
        # the result (alignments + scores) derives only from the scored
        # checkpoint — every earlier intermediate can release its blocks;
        # scored itself passes to the caller with the result
        self._ckpts.release(keep=scored)

        alignments = (
            scored.filter("accepted")
            .select(
                F.col("src").alias("source"),
                F.col("cand").alias("target"),
                F.col("score"),
            )
            .distinct()
        )
        return MatchResult(
            alignments=alignments,
            scores=scored,
            labels=labels,
            stopwords=stopwords,
            textp=textp,
            search_predicates=search_preds,
        )
