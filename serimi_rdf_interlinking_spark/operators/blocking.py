"""A12/O4 — blocking order + chunk assignment.

The reference orders all source instances by shared-token frequency so
homonym sources co-occur in chunks (search_module.rb:33-56), then
slices offset/limit windows (initializer.rb:93-130).

Spark design: a distributed sort by the blocking key followed by
zipWithIndex for a contiguous global rank. zipWithIndex is two linear
jobs (count per partition, then offsetting) — no single-partition
window, so the global ordering scales. Chunk ids derive from the rank
(first chunk 5, then sigma — the reference's warm-up, initializer.rb:94-98).

`lsh_label_join` (the fuzzy selection tier) runs each side's character
shingles through dedup's filter-verify core: `_band_keys`,
`_candidate_cooccurrence` and `_exact_jaccard`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import SerimiConfig
from ..functions.columns import lit_map, norm_text, norm_tokens
from .dedup import _band_keys, _candidate_cooccurrence, _exact_jaccard

WARMUP_CHUNK = 5  # the first chunk is 5 sources, then sigma (initializer.rb:94-98)
# lsh_label_join's character shingle width and minhash banding
SHINGLE_K = 4
LSH_NUM_HASHES = 12
LSH_BANDS = 4


def blocking_order(
    triples: DataFrame,
    members: DataFrame,
    labels: list[str],
    cfg: SerimiConfig,
    mat,
) -> DataFrame:
    """Returns (s, rank, chunk_id) for every source with a label value.

    Reference semantics: subjects are emitted in descending order of
    their tokens' document frequency (first occurrence wins). Sources
    without any label triple never enter $bdata — they are excluded
    here too (the caller logs the count).

    ``mat`` materializes the range-partitioned frame before the
    partition-count collect (the partition ids MUST be pinned:
    repartitionByRange samples, so a recompute could re-draw ranges and
    desynchronize the collected offsets from the later rank pass).
    The matcher passes its tracked ``_mat`` so the blocks are released
    at end-of-run.
    """
    spark = triples.sparkSession
    data = None
    for label in labels:
        cand = (
            triples.join(members, "s", "left_semi")
            .filter((F.col("p") == label) & ~F.col("is_bnode"))
            .select("s", "o")
        )
        if cand.head(1):
            data = cand
            break
    if data is None:
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("s", T.StringType()),
                    T.StructField("rank", T.LongType()),
                    T.StructField("chunk_id", T.LongType()),
                ]
            ),
        )

    toks = data.select("s", F.explode(norm_tokens("o")).alias("tok"))
    tc = toks.groupBy("tok").agg(F.count("*").alias("tok_freq"))
    # per subject: best (most frequent) token decides its position;
    # ties broken by token then subject for determinism.
    keyed = (
        toks.join(tc, "tok")
        .groupBy("s")
        .agg(
            F.min(
                F.struct(
                    (-F.col("tok_freq")).alias("neg_freq"),
                    F.col("tok").alias("tok"),
                    F.col("s").alias("s2"),
                )
            ).alias("k")
        )
    )
    # contiguous global rank, fully JVM-side and shuffle-parallel:
    # range-sort by the key, then rank = per-partition row_number plus
    # the cumulative count of earlier partitions (collected offsets are
    # one small row per partition — no single-partition window, no
    # Python RDD round trip).
    ordered = keyed.repartitionByRange(max(triples.sparkSession.sparkContext.defaultParallelism, 1), "k")
    ordered = ordered.withColumn("pid", F.spark_partition_id())
    ordered = mat(ordered)
    part_counts = (
        ordered.groupBy("pid").agg(F.count("*").alias("n")).orderBy("pid").collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for r in part_counts:
        offsets[r.pid] = acc
        acc += r.n
    off_map = lit_map(offsets)
    from pyspark.sql import Window

    w = Window.partitionBy("pid").orderBy("k")
    ranked = ordered.withColumn(
        "rank", F.row_number().over(w) - 1 + off_map[F.col("pid")]
    ).select("s", "rank")

    chunk = (
        F.when(F.col("rank") < WARMUP_CHUNK, F.lit(0))
        .otherwise(1 + F.floor((F.col("rank") - WARMUP_CHUNK) / cfg.chunk))
        .cast("long")
    )
    return ranked.withColumn("chunk_id", chunk)


# ---------------------------------------------------------------------------
# LSH-blocked label similarity join (north_star selection tier)
# ---------------------------------------------------------------------------


def _char_shingle_rows(df: DataFrame, id_col: str) -> DataFrame:
    """(id, sh) distinct character SHINGLE_K-shingles of the
    keyword-normalized `label`. Labels shorter than SHINGLE_K yield one
    shingle (the whole label) — substr past the end truncates
    identically in Spark and DuckDB, so the SQL oracle mirrors
    bit-for-bit."""
    base = df.select(F.col(id_col).alias("id"), norm_text("label").alias("nrm"))
    n_sh = F.greatest(F.length("nrm") - F.lit(SHINGLE_K - 1), F.lit(1))
    return base.select(
        "id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n_sh),
                    lambda i: F.col("nrm").substr(i, F.lit(SHINGLE_K)),
                )
            )
        ).alias("sh"),
    )


def lsh_label_join(
    src: DataFrame, tgt: DataFrame, verify_threshold: float
) -> DataFrame:
    """LSH-blocked similarity join between two label sets — the
    north_star's fuzzy selection tier ("LSH-blocked similarity join on
    rdfs:label/name predicates") next to the exact tokenized
    inverted-index retrieval (operators/candidates.py): character
    k-shingle minhash band keys per side, band-bucket equi-join
    ACROSS the two sides (never a self all-pairs), then exact
    character-Jaccard verification bounded to the LSH candidates.
    Band keys, co-occurrence and verify are minhash_lsh_pairs' own.
    Catches typo/spacing variants where no full token matches exactly.
    `src` is (src_id, label), `tgt` is (tgt_id, label); returns
    (src_id, tgt_id, jaccard >= verify_threshold).

    Scale shape: both sides shuffle once on (band, band_key) — the
    join never materializes src x tgt; verification work is linear in
    |candidates| x shingles-per-label. Token-frequency skew does not
    apply (band keys are near-uniform minhash tuples); a pathological
    all-identical-label corpus degrades to the true duplicate set,
    which is the correct answer, not a skew artifact. Each side's
    shingle frame is re-derived by its 3 consumers (banding, sizes,
    verify) instead of persisted: shingling is a linear stateless map
    over label rows, and a persist inside an operator races against
    itself when the consumers run within one action."""
    src_sh = _char_shingle_rows(src, "src_id")
    tgt_sh = _char_shingle_rows(tgt, "tgt_id")
    a = _band_keys(src_sh, LSH_NUM_HASHES, LSH_BANDS).select(
        F.col("id").alias("id_a"), "band", "band_key"
    )
    b = _band_keys(tgt_sh, LSH_NUM_HASHES, LSH_BANDS).select(
        F.col("id").alias("id_b"), "band", "band_key"
    )
    cand = (
        a.join(b, ["band", "band_key"])
        .select("id_a", "id_b")
        .distinct()
    )
    co = _candidate_cooccurrence(cand, src_sh, tgt_sh)
    return (
        _exact_jaccard(co, src_sh, tgt_sh, verify_threshold)
        .select(
            F.col("id_a").alias("src_id"),
            F.col("id_b").alias("tgt_id"),
            "jaccard",
        )
        .orderBy("src_id", "tgt_id")
    )
