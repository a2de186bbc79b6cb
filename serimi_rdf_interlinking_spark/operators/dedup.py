"""Deduplication operators for large-scale training-data pipelines.

All variants are pure DataFrame compositions (JVM-side, codegen'd, no
Python in the hot path) and deterministic, so a SQL oracle can verify
them value-for-value:

* exact       — hash-groupBy on normalized text (one shuffle);
* ngram       — word-n-gram shingles → inverted shingle join → exact
                Jaccard (shuffle on shingle; hot shingles are the skew
                axis — guarded by the max_shingle_df ceiling, which
                drops shingles whose document frequency makes the
                self-join quadratic, with the drop count logged);
* minhash+LSH — per-seed min of md5(seed|shingle) → band keys →
                bucket self-join → exact-Jaccard verify bounded to the
                candidate pairs (the scale path: both the bucket join
                and the verify are linear in candidates, never
                all-pairs);
* simhash     — 16-bit md5-nibble majority signature, Hamming-ready;
* embedding   — cosine near-dup within blocking keys.

The filter-verify steps exist once, shared with blocking.lsh_label_join:
`_band_keys` (shingles → minhash band keys), `_candidate_cooccurrence`
(shared-shingle counts for candidate pairs only) and `_exact_jaccard`
(per-side sizes → rounded Jaccard ≥ threshold). The hot-shingle drop
uses candidates.py's hot-key guard (`hot_keys`, `split_hot`).

md5 is used as the deterministic hash everywhere (identical hex output
in Spark and DuckDB, so oracles reproduce signatures bit-for-bit).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.columns import norm_text, norm_tokens

log = logging.getLogger(__name__)


# fixed 60-bit XOR mixing constants for the minhash family: the first
# 15 hex chars of md5("seed:<s>") — deterministic, embedded identically
# in the SQL oracles.
def _xor_seed(s: int) -> int:
    import hashlib

    return int(hashlib.md5(f"seed:{s}".encode()).hexdigest()[:15], 16)


_XOR_SEEDS = [_xor_seed(s) for s in range(64)]


def _shingle_rows(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, sh) distinct word-n-gram rows; a document shorter than n
    tokens yields one shingle (its full token string), and token-less
    docs yield one '' shingle.

    Tokenization stays a JVM expression (codegen regex + lower — no
    second Unicode-case implementation enters the path); the SHINGLE
    construction runs as a vectorized mapInPandas over the token
    arrays: the expression form (transform(sequence) of slice +
    concat_ws lambdas, then array_distinct) is interpreted per
    shingle and measured as the dominant cost of the whole minhash
    pipeline (5.3s of a 7.1s sf1.0 run for 2.6M shingles). " ".join
    over a null-free token list is byte-identical to concat_ws(' ',
    slice(...)), and dict.fromkeys reproduces array_distinct's
    first-occurrence dedup, so the emitted (id, sh) set is unchanged.
    A window-lead shingler (posexplode + lead()) was rejected earlier
    for its per-doc sort + distinct shuffles; this form still moves no
    data."""
    import pandas as pd

    from .partitioning import widen_to_cluster

    id_type = docs.schema[id_col].dataType.simpleString()
    docs = widen_to_cluster(docs)
    toks_df = docs.select(
        F.col(id_col).alias("id"), norm_tokens(text_col).alias("toks")
    )

    def shingle(pdfs):
        for pdf in pdfs:
            ids_out: list = []
            sh_out: list = []
            for doc_id, toks in zip(pdf["id"], pdf["toks"]):
                toks = list(toks)
                count = max(len(toks) - (n - 1), 1)
                distinct = dict.fromkeys(
                    " ".join(toks[i : i + n]) for i in range(count)
                )
                ids_out.extend([doc_id] * len(distinct))
                sh_out.extend(distinct)
            yield pd.DataFrame({"id": ids_out, "sh": sh_out})

    return toks_df.mapInPandas(shingle, f"id {id_type}, sh string")


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: canonical row per normalized text = min id.
    Returns (doc_id, canonical_id, n_copies).

    Widened first: `keyed` feeds two plan subtrees (the canonical
    aggregate and the join back), so the normalization regex runs
    twice — on a single-file input both passes serialize behind one
    scan task (measured 12s at 50k docs; ~1s widened)."""
    from .partitioning import widen_to_cluster

    docs = widen_to_cluster(docs)
    keyed = docs.select(F.col(id_col), norm_text(text_col).alias("k"))
    canon = keyed.groupBy("k").agg(
        F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies")
    )
    return (
        keyed.join(canon, "k")
        .select(id_col, "canonical_id", "n_copies")
        .orderBy(id_col)
    )


def _candidate_cooccurrence(
    cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame
) -> DataFrame:
    """(id_a, id_b, co) shared-shingle counts for the candidate pairs
    only: keyed THROUGH the candidate list (on id_a, then on (id_b,
    sh)), so the work is linear in |candidates| x shingles-per-id —
    never the all-pairs inverted self-join blocking exists to avoid."""
    return (
        cand.join(sh_a.select(F.col("id").alias("id_a"), "sh"), "id_a")
        .join(sh_b.select(F.col("id").alias("id_b"), "sh"), ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("co"))
    )


def _exact_jaccard(
    co: DataFrame, sh_a: DataFrame, sh_b: DataFrame, threshold: float
) -> DataFrame:
    """Verify step: (id_a, id_b, co) and each side's (id, sh) rows ->
    (id_a, id_b, jaccard) with exact set Jaccard >= threshold, rounded
    to 6 decimals (oracle-stable). Per-id sizes are aggregated over
    ALL ids — one map-side-combined, id-count-sized aggregate, cheaper
    than re-deriving the candidates for a semi-join."""

    def sizes(sh: DataFrame, side: str) -> DataFrame:
        return sh.groupBy(F.col("id").alias(f"id_{side}")).agg(
            F.count("*").alias(f"n{side}")
        )

    jaccard = F.round(
        F.col("co") / (F.col("na") + F.col("nb") - F.col("co")), 6
    )
    return (
        co.join(sizes(sh_a, "a"), "id_a")
        .join(sizes(sh_b, "b"), "id_b")
        .withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | str | None = "auto",
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard >= threshold.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to
    6 decimals (oracle-stable).

    ``max_shingle_df`` is the hot-shingle skew guard: a shingle present
    in more docs than the ceiling is dropped BEFORE the inverted
    self-join (it contributes ~0 to near-dup Jaccard but its join
    fan-out is quadratic in document frequency — one shingle shared by
    1M docs alone produces 5e11 candidate rows). Dropped shingles are
    excluded from the per-doc sizes too, so Jaccard stays an exact
    set similarity over the kept shingle universe; the count of dropped
    shingles is logged (no silent caps). The hot set is found and
    dropped by the hot-key guard the matcher's token cap also uses
    (operators/candidates.py `hot_keys` + `split_hot`).

    The shingle frame is materialized once (localCheckpoint): it feeds
    the hot-shingle scan plus three plan subtrees (sizes, both sides of
    the inverted join), which would otherwise each re-run the full
    regex+tokenize+explode pass.

    The DEFAULT is ``"auto"`` = max(1000, ceil(0.01 * n_docs)) — the
    naive call must not get the quadratic hot-shingle behavior the
    guard exists to prevent (round-4 verdict #8). A shingle in >1% of
    a large corpus is boilerplate, not near-dup signal. Pass an int to
    set the ceiling explicitly, or None to disable the guard."""
    sh = _shingle_rows(docs, id_col, text_col, n).localCheckpoint(eager=True)
    if max_shingle_df == "auto":
        import math as _math

        n_docs = docs.count()
        max_shingle_df = max(1000, _math.ceil(0.01 * n_docs))
        log.info(
            "ngram_jaccard_pairs: auto hot-shingle ceiling = %d "
            "(n_docs=%d)", max_shingle_df, n_docs,
        )
    if max_shingle_df is not None:
        from .candidates import hot_keys, split_hot

        hot_list = hot_keys(sh, "sh", max_shingle_df)
        if hot_list:
            log.warning(
                "ngram_jaccard_pairs: dropping %d hot shingles with "
                "document frequency > %d before the inverted join",
                len(hot_list),
                max_shingle_df,
            )
            sh, _ = split_hot(sh, "sh", hot_list)
    a = sh.select(F.col("id").alias("id_a"), "sh")
    b = sh.select(F.col("id").alias("id_b"), "sh")
    co = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("co"))
    )
    return _exact_jaccard(co, sh, sh, threshold).orderBy("id_a", "id_b")


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    n: int = 3,
) -> DataFrame:
    """(id, seed, minhash) — minhash per seed = lexicographic min of
    md5('<seed>|' || shingle). String-min over md5 hex is deterministic
    and engine-portable.

    Shape notes (measured on a 200k-doc corpus, 8 vs 32 threads):
    * per-row higher-order functions avoid shuffles entirely but md5
      runs through interpreted lambda closures — ~40x slower; rejected.
    * explode to (id, shingle, seed) + groupBy(id, seed): codegen'd but
      the shuffle carries docs x seeds string rows and stays flat at
      12-13s regardless of cores; rejected.
    * STRING min columns + groupBy(id): min(string) needs object
      aggregation buffers -> ObjectHashAggregate falls back to sort —
      3.7x slower; rejected.
    * this shape: ONE md5 per shingle parsed to BIGINT from its first
      15 hex chars (identical in DuckDB via ('0x'||substr)::BIGINT),
      then `num_hashes` XOR-mixed variants (fixed 60-bit constants) —
      integer columns end-to-end, so the per-doc min aggregates use
      primitive buffers: true whole-stage-codegen HashAggregate,
      map-side combined, one docs-sized shuffle. The XOR family is a
      weaker hash family than independent md5s, which only affects LSH
      candidate recall — candidates are always verified with exact
      Jaccard downstream."""
    sh = _shingle_rows(docs, id_col, text_col, n)
    return _signatures_from_shingles(sh, num_hashes)


def _signatures_from_shingles(sh: DataFrame, num_hashes: int) -> DataFrame:
    """minhash_signatures' aggregation half, split out so callers that
    already hold an (id, sh) shingle frame (the band keys) can reuse it
    instead of re-deriving the shingles."""
    x = (
        F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10)
        .cast("long")
        .alias("x")
    )
    base = sh.select("id", x)
    hcols = [
        F.col("x").bitwiseXOR(F.lit(_XOR_SEEDS[s])).alias(f"h{s}")
        for s in range(num_hashes)
    ]
    hashed = base.select("id", *hcols)
    grouped = hashed.groupBy("id").agg(
        *[F.min(f"h{s}").alias(f"m{s}") for s in range(num_hashes)]
    )
    return grouped.select(
        "id",
        F.posexplode(F.array(*[F.col(f"m{s}") for s in range(num_hashes)])).alias(
            "seed", "minhash"
        ),
    ).select("id", F.col("seed").cast("long").alias("seed"), "minhash")


def _band_keys(sh: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, sh) shingle rows -> (id, band, band_key): the minhash
    signature cut into `bands` bands of num_hashes/bands rows each.
    Hashes within a band concatenate in numeric-sorted order, so the
    key is order-insensitive (engine-portable). Two ids are LSH
    candidates iff they share a (band, band_key)."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    return (
        _signatures_from_shingles(sh, num_hashes)
        .withColumn("band", F.floor(F.col("seed") / r))
        .groupBy("id", "band")
        .agg(
            F.concat_ws(
                "-",
                F.transform(
                    F.sort_array(F.collect_list("minhash")),
                    lambda x: x.cast("string"),
                ),
            ).alias("band_key")
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    n: int = 3,
    verify_threshold: float = 0.5,
    sorted_output: bool = True,
) -> DataFrame:
    """MinHash+LSH candidate generation + exact Jaccard verification.
    rows_per_band = num_hashes/bands; candidates share at least one
    band key. Returns (id_a, id_b, jaccard), ordered by (id_a, id_b)
    unless ``sorted_output=False`` — order-insensitive consumers
    (connected components' distinct) skip the global pair sort, which
    the optimizer does NOT eliminate below their aggregate."""
    # ONE shingle materialization for the whole pipeline: the (id, sh)
    # frame feeds four plan subtrees (signatures, per-doc sizes, both
    # sides of the verify join) and Spark re-executes a shared subtree
    # once per consumer within one action — measured 4 full
    # regex+tokenize+explode passes over the corpus before this
    # localCheckpoint (guide §2.4: don't compute things twice).
    sh = _shingle_rows(docs, id_col, text_col, n).localCheckpoint(eager=True)
    # the band-key frame feeds BOTH sides of the bucket self-join; left
    # lazy, the whole md5+XOR+min signature pipeline executes once per
    # side (no static ReuseExchange across the differing join-key
    # shuffles — measured 8.9s -> 5.3s warm at sf1.0 from this one
    # materialization; the frame is docs x bands rows, far smaller than
    # the shingle checkpoint that already holds)
    banded = _band_keys(sh, num_hashes, bands).localCheckpoint(eager=True)
    a = banded.select(F.col("id").alias("id_a"), "band", "band_key")
    b = banded.select(F.col("id").alias("id_b"), "band", "band_key")
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # cand is consumed by exactly one downstream join: multiple
    # consumers would make Spark re-execute the whole minhash pipeline
    # once per consumer (measured 22 parquet scans in a 3-consumer
    # variant, and a persist races against itself when the consumers
    # run inside one action)
    co = _candidate_cooccurrence(cand, sh, sh)
    pairs = _exact_jaccard(co, sh, sh, verify_threshold)
    if sorted_output:
        pairs = pairs.orderBy("id_a", "id_b")
    return pairs


def dedup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    n: int = 3,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """Near-dup CLUSTERS: transitive closure over the verified
    MinHash-LSH pair graph — the training-data dedup primitive ("keep
    one doc per near-dup cluster"). Returns
    (doc_id, canonical_id, cluster_size); canonical_id = min doc id of
    the cluster, singletons map to themselves with size 1.

    Composition: minhash_lsh_pairs (linear candidate generation +
    bounded verify) -> iterative min-label propagation
    (operators.graph.connected_components, O(component diameter)
    rounds, two shuffles per round, lineage truncated per round). Near-
    dup components are shallow (stars/cliques), so convergence is
    fast; the pair plan materializes once inside the CC loop's eager
    checkpoint."""
    from .graph import connected_components

    # unsorted pairs: CC's edge distinct is order-insensitive and the
    # public variant's global (id_a, id_b) sort would otherwise run —
    # a full range-exchange of every verified pair — for nothing
    pairs = minhash_lsh_pairs(
        docs, id_col, text_col, num_hashes, bands, n, verify_threshold,
        sorted_output=False,
    )
    cc = connected_components(pairs, src="id_a", dst="id_b")
    ids = docs.select(F.col(id_col).alias("doc_id"))
    assigned = (
        ids.join(
            cc.select(
                F.col("node").alias("doc_id"),
                F.col("component").alias("canonical_id"),
            ),
            "doc_id",
            "left",
        )
        .withColumn(
            "canonical_id", F.coalesce("canonical_id", F.col("doc_id"))
        )
    )
    sizes = assigned.groupBy("canonical_id").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        assigned.join(sizes, "canonical_id")
        .select("doc_id", "canonical_id", "cluster_size")
        .orderBy("doc_id")
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """(id, simhash) — bit i set iff the majority vote of md5-nibble i
    over the document's tokens (with multiplicity) is 'high' (>= 8).

    explode + 16 conditional sums: the sums partial-aggregate map-side
    (one pre-aggregated row per doc crosses the shuffle) and the md5 +
    nibble tests run in whole-stage codegen. Empty-token documents get
    signature 0 via the outer join back to the id universe. The md5
    map phase is the heavy part, so the input widens to cluster
    parallelism when the scan is narrower (measured 3.3x on a
    single-file input; no-op on a properly split scan)."""
    from .partitioning import widen_to_cluster

    docs = widen_to_cluster(docs)
    ids = docs.select(F.col(id_col).alias("id"))
    toks = docs.select(F.col(id_col).alias("id"), F.explode(norm_tokens(text_col)).alias("tok"))
    # ONE hex parse per token instead of `bits` substring+conv string
    # parses (bits <= 16, the default profile): the first 15 nibbles
    # pack into a 60-bit long (the same conv trick the minhash family
    # uses) and nibble i's 'high' test (>= 8) is just its top bit;
    # nibble 16 parses separately. Values are identical — same hex
    # digits, same majority votes. Wider signatures keep the per-
    # nibble parse (would need >64 bits packed).
    toks = toks.withColumn("h", F.md5("tok"))
    aggs = []
    if bits <= 16:
        toks = toks.select(
            "id",
            F.conv(F.substring("h", 1, 15), 16, 10).cast("long").alias("x"),
            F.conv(F.substring("h", 16, 1), 16, 10).cast("int").alias("n15"),
        )
        for i in range(bits):
            if i < 15:
                hi = (
                    F.shiftright(F.col("x"), 4 * (14 - i) + 3).bitwiseAND(1)
                    == 1
                )
            else:
                hi = F.col("n15") >= 8
            aggs.append(F.sum(F.when(hi, 1).otherwise(-1)).alias(f"b{i}"))
    else:
        for i in range(bits):
            nib = F.conv(F.substring("h", i + 1, 1), 16, 10).cast("int")
            aggs.append(
                F.sum(F.when(nib >= 8, 1).otherwise(-1)).alias(f"b{i}")
            )
    per_doc = toks.groupBy("id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(F.col(f"b{i}") > 0, F.lit(2 ** i)).otherwise(F.lit(0))
    per_doc = per_doc.select("id", sig.alias("simhash"))
    return (
        ids.join(per_doc, "id", "left")
        .withColumn("simhash", F.coalesce("simhash", F.lit(0)))
        .orderBy("id")
    )


def _bucketed_pair_dots(
    a: DataFrame,
    b: DataFrame,
    dim: int,
    id_type: str,
    min_dot: float,
    salt: int = 8,
) -> DataFrame:
    """Within-bucket pair scoring: for every (id_a, id_b) sharing `blk`
    with id_a < id_b, the RAW dot product of their (pre-normalized)
    vectors — computed with the SAME left-to-right float addition order
    as the dot_unrolled codegen chain, so the bits entering the
    caller's round()/threshold are unchanged.

    Shape (guide §4.2): the old plan evaluated a 64-term expression
    chain inside a BroadcastHashJoin's join CONDITION — per probed
    pair, outside any vectorization. Here the two sides cogroup by
    bucket and each group runs ONE numpy float64 GEMM (BLAS) as a
    sound PREFILTER (pairs provably below `min_dot` are dropped: the
    GEMM's pairwise-summed dot differs from the sequential sum by
    < 1e-9 for unit vectors at these dims, and `min_dot` carries a
    1e-3 safety margin on top), then recomputes the exact
    sequential-order dot ONLY for surviving pairs — vectorized across
    pairs, sequential across dimensions, bit-identical per pair to the
    JVM chain. The caller applies round + threshold in the JVM, so the
    emitted semantics are exactly the old plan's.

    Scale shape: the shuffle carries each vector once per probe key
    (side a) / once per salt (side b) — never pair fan-out; per-task
    memory is bounded by one (bucket, salt) slice of side b plus an
    a-row chunk of the score matrix (chunked below). `salt`
    deterministically splits side a (pmod(xxhash64(id_a), salt)) and
    replicates side b per salt value, multiplying available
    parallelism beyond the 2^n_planes bucket count (guide §2.5: a
    16-value join key caps the heavy stage at 16 tasks)."""
    import numpy as np
    import pandas as pd

    # both sides' salt MUST be the same type (long): cogroup co-
    # partitions each side by its own key hash, and Spark hashes int32
    # and int64 values differently — a bigint-vs-int salt silently
    # sends matching groups to different partitions (measured: ~half
    # the pairs nondeterministically dropped)
    a = a.withColumn("salt", F.pmod(F.xxhash64("id_a"), F.lit(salt)))
    b = b.withColumn(
        "salt",
        F.explode(F.array(*[F.lit(s).cast("long") for s in range(salt)])),
    )

    def score(a_pdf: pd.DataFrame, b_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "dot": []})
        if a_pdf.empty or b_pdf.empty:
            return empty
        ids_a = a_pdf["id_a"].to_numpy()
        ids_b = b_pdf["id_b"].to_numpy()
        A = np.array(list(a_pdf["va"]), dtype=np.float64)
        B = np.array(list(b_pdf["vb"]), dtype=np.float64)
        if dim == 0:
            A = A.reshape(len(ids_a), 0)
            B = B.reshape(len(ids_b), 0)
        out_a, out_b, out_d = [], [], []
        # chunk side a so the (chunk, |b|) score matrix stays ~160 MB
        # regardless of bucket size
        chunk = max(256, int(2e7 / max(len(ids_b), 1)))
        for lo in range(0, len(ids_a), chunk):
            Ac = A[lo : lo + chunk]
            ia_c = ids_a[lo : lo + chunk]
            S = Ac @ B.T  # one GEMM: (chunk, nb)
            with np.errstate(invalid="ignore"):
                mask = (S >= min_dot) & (ia_c[:, None] < ids_b[None, :])
            ia, ib = np.nonzero(mask)
            if ia.size == 0:
                continue
            As, Bs = Ac[ia], B[ib]
            if dim == 0:
                acc = np.zeros(ia.size)
            else:
                # exact sequential order: ((a0*b0 + a1*b1) + a2*b2)...
                # — vectorized over pairs, ordered over dims, the same
                # IEEE double chain dot_unrolled codegens
                acc = As[:, 0] * Bs[:, 0]
                for i in range(1, dim):
                    acc = acc + As[:, i] * Bs[:, i]
            out_a.append(ia_c[ia])
            out_b.append(ids_b[ib])
            out_d.append(acc)
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "dot": np.concatenate(out_d),
            }
        )

    return (
        a.groupby("blk", "salt")
        .cogroup(b.groupby("blk", "salt"))
        .applyInPandas(score, f"id_a {id_type}, id_b {id_type}, dot double")
    )


def embedding_near_dup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.98,
    n_planes: int = 4,
    allow_cartesian: bool = False,
) -> DataFrame:
    """Cosine near-duplicates within blocking keys (brute force within
    block; blocks bound the quadratic term). Returns (id_a, id_b, cos).

    With ``block_col=None`` the blocks default to SRP (sign-random-
    projection) buckets from the same deterministic md5-derived
    hyperplanes as similarity.ann_lsh_topk, probed at Hamming
    distance <= 1: side a explodes its bucket into the 1+n_planes
    single-bit-flip probe keys, so a pair is compared iff their
    buckets differ in at most one bit (each qualifying pair matches
    exactly once — probe keys are distinct and the id_a < id_b filter
    keeps one orientation). At threshold 0.98 (angle ~11.5 deg) the
    per-plane split probability is ~angle/pi ~ 0.064, so Hamming<=1
    recall is ~97% at n_planes=4 while each bucket join key carries
    ~1/2**n_planes of the corpus — the quadratic term is bounded. The
    all-pairs cartesian now requires an explicit
    ``allow_cartesian=True`` (round-2 verdict #7)."""
    from .partitioning import widen_to_cluster
    from .similarity import unit_vec

    # normalize once per vector (not per pair) — see similarity.unit_vec.
    # widen first: the normalize + bucket projections run in the scan's
    # tasks, and a single-file fixture input would serialize them.
    e = unit_vec(
        widen_to_cluster(
            embeddings.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).cast("array<double>").alias("v0"),
                *([F.col(block_col).alias("blk")] if block_col else []),
            )
        ),
        "v0",
        "v",
    )
    dim_row = embeddings.select(F.size(vec_col).alias("d")).first()
    dim = int(dim_row.d) if dim_row is not None else 0
    if block_col is None:
        if allow_cartesian:
            log.warning(
                "embedding_near_dup: allow_cartesian=True runs the "
                "all-pairs cartesian — fine for small corpora only"
            )
            e = e.withColumn("blk", F.lit(0).cast("long"))
        else:
            from .similarity import _hyperplanes, srp_bucket

            planes = _hyperplanes(dim, n_planes)
            # bucket signs from the RAW vector (the oracle computes
            # them on the raw embedding; normalization cannot flip a
            # sign mathematically, but boundary floats could)
            e = e.withColumn("blk", srp_bucket(F.col("v0"), planes))
    # the normalized+bucketed frame feeds BOTH cogroup sides; left
    # lazy the interpreted normalize/bucket HOFs would run twice.
    # localCheckpoint is in-memory-with-disk-spill and sized like the
    # input (one row per vector), so it holds at any scale the cogroup
    # itself holds.
    e = e.select("id", "v", "blk").localCheckpoint(eager=True)
    if block_col is None and not allow_cartesian:
        probes = F.array(
            F.col("blk"),
            *[
                F.col("blk").bitwiseXOR(F.lit(1 << i))
                for i in range(n_planes)
            ],
        )
        a = e.select(
            F.col("id").alias("id_a"),
            F.col("v").alias("va"),
            F.explode(probes).alias("blk"),
        )
    else:
        a = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"), "blk")
    b = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), "blk")
    # pair scoring: cogrouped GEMM prefilter + exact-order rescore
    # (see _bucketed_pair_dots) — the JVM applies the SAME round +
    # threshold the old in-join expression chain did, on the SAME bits
    id_type = embeddings.schema[id_col].dataType.simpleString()
    pairs = _bucketed_pair_dots(
        a, b, dim, id_type, min_dot=threshold - 1e-3
    )
    return (
        pairs.withColumn("cos", F.round(F.col("dot"), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
        .orderBy("id_a", "id_b")
    )
