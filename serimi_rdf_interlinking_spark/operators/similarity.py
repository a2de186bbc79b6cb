"""Similarity search over embedding columns.

* `cosine_topk` — the exactness baseline: broadcast query side, corpus
  scanned once, JVM-side arithmetic, two-level truncating top-k;
* `cosine_topk_gemm` — the same exact semantics through a vectorized
  pandas-UDF numpy GEMM (BLAS) with batch-local truncation — the fast
  path for wide embeddings;
* `ann_lsh_topk` — SRP-LSH scale path: sign-random-projection buckets
  from deterministic md5-derived hyperplanes, Hamming<=1 multiprobe;
* `ann_ivf_topk` — IVF scale path: a data-adaptive coarse quantizer
  (deterministic seeds + one rounded Lloyd step, fully reproduced in
  the SQL oracle); queries scan only their probed inverted lists.

Recall of both ANN paths is tested against the brute-force baseline.
NaN note: a zero vector yields NaN cosines; the truncating top-k sorts
NaN LAST (ascending struct sort) where a row_number window's DESC sort
would put NaN first — the truncating order is the useful one.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _norm(c: Column) -> Column:
    return F.sqrt(F.aggregate(c, F.lit(0.0), lambda s, x: s + x * x))


# widest dim the static unrolled chain handles: the left-deep
# expression tree is converted recursively and overflows the JVM
# converter stack somewhere past ~300 terms (measured: 256 ok, 320
# StackOverflowError on Spark 4.1). Above this the HOF fold takes over
# — it sums in the SAME left-to-right order, so results (and the SQL
# oracles) are unaffected; only the codegen-vs-interpreter speed trade
# moves, and at 256+ dims the vectorized GEMM path is the right tool
# anyway.
MAX_UNROLL_DIM = 256


def dot_unrolled(a: str, b: str, dim: int) -> Column:
    """Dot product of two array columns, named by `a` and `b`, as a
    static left-deep a[0]*b[0] + a[1]*b[1] + ... expression chain.
    Higher-order functions (aggregate/zip_with) run through Catalyst's
    lambda INTERPRETER per element; the unrolled chain stays inside
    whole-stage codegen — measured 2.1x faster at 64 dims on the
    near-dup pair join, with a bit-identical result (same left-to-right
    float addition order as the fold). Dims above MAX_UNROLL_DIM fall
    back to the fold (same values, see above).

    The chain is built as ONE F.expr() SQL string — the SQL parser
    produces the identical left-associative Add/Multiply/GetArrayItem
    tree (verified bit-equal), while building it through Column algebra
    issues ~2*dim py4j round-trips per call and was the measured BUILD
    wall of the fixed-size similarity queries (0.6s vs 3ms at 64 dims)."""
    if not (isinstance(a, str) and isinstance(b, str)):
        raise TypeError("dot_unrolled takes column names, not Columns")
    if dim <= 0:  # empty-frame edge: the fold's identity element
        return F.lit(0.0)
    if dim > MAX_UNROLL_DIM:
        return _dot(F.col(a), F.col(b))
    return F.expr(" + ".join(f"`{a}`[{i}] * `{b}`[{i}]" for i in range(dim)))


def dot_literal(a: str, vals: list, dim: int) -> Column:
    """dot(array column named `a`, python-list constant) with the same
    left-to-right addition order as dot_unrolled/_dot. The constant is
    inlined as scalar literals, NOT as an array column: a[i] *
    array(...)[i] re-expands the CreateArray expression per element
    access (64 array constructions per dot in codegen — measured 3s
    for 20k rows x 8 centroids), where scalar literals are free. Dims
    past MAX_UNROLL_DIM fall back to the HOF fold over one array
    literal (evaluated once per row), same values either way.

    Like dot_unrolled, all-finite constants build through ONE F.expr()
    call ('D'-suffixed literals are exact: repr(float) round-trips and
    the parser yields the same DoubleType literal bits); non-finite
    values keep the Column-algebra form."""
    import functools
    import math
    import operator

    if not isinstance(a, str):
        raise TypeError("dot_literal takes a column name, not a Column")
    if dim <= 0:
        return F.lit(0.0)
    if dim > MAX_UNROLL_DIM:
        return _dot(F.col(a), F.array(*[F.lit(float(x)) for x in vals[:dim]]))
    if all(math.isfinite(float(v)) for v in vals[:dim]):
        return F.expr(
            " + ".join(
                f"`{a}`[{i}] * {float(vals[i])!r}D" for i in range(dim)
            )
        )
    col = F.col(a)
    return functools.reduce(
        operator.add,
        [col[i] * F.lit(float(vals[i])) for i in range(dim)],
    )


def _probe_dim(embeddings: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from the first row (0 for an empty
    frame) — probed once so the pair-scoring dot can unroll."""
    first = embeddings.select(F.size(vec_col).alias("d")).first()
    return int(first.d) if first is not None else 0


def unit_vec(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    """Adds `out_col` = vec/|vec| (array<double>). Normalizing ONCE per
    vector moves the two norm computations out of the pairwise join:
    cos(a,b) then costs a single interpreted-HOF dot product per pair
    instead of three (dot + 2 norms) — measured ~3x on the SRP near-dup
    pair join. The element-wise divide happens identically in the
    DuckDB oracles (list_transform(v, x -> x / sqrt(list_dot_product(
    v, v)))), so the rounded cosines stay bit-identical. A zero vector
    yields NaN elements -> NaN cosine, same as the unnormalized form's
    0/0."""
    tmp = f"__{out_col}_n"
    return (
        df.withColumn(tmp, _norm(F.col(vec_col)))
        .withColumn(
            out_col,
            F.transform(F.col(vec_col), lambda x: x / F.col(tmp)),
        )
        .drop(tmp)
    )


def _partial_topk(scored: DataFrame, k: int) -> DataFrame:
    """Scale-safe top-k per query over (query_id, neighbor_id, cos).

    Two-level truncating aggregate instead of a row_number() window:
    a window shuffles EVERY scored corpus row for a query into that
    query's single partition and fully sorts it — at a 100-TB corpus
    the per-query fan-in is a straggler/spill machine. Here level 1
    groups by (query_id, input partition) — no shuffle moves raw rows;
    each group truncates to its local top-k via
    slice(sort_array(collect_list(struct(-cos, neighbor_id))), 1, k) —
    so the one shuffle carries at most k rows per (query, partition).
    Level 2 merges those k-lists to the final top-k. Any global top-k
    element is in its own partition's top-k, so the union of local
    winners always contains the answer; the (-cos, neighbor_id) struct
    sort reproduces the window's (desc cos, asc neighbor_id) total
    order exactly, ties included.
    Returns (query_id, neighbor_id, cos, rk) like the window form."""
    pack = F.slice(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("cos")).alias("nc"),
                    F.col("neighbor_id").alias("nid"),
                )
            )
        ),
        1,
        k,
    )
    local = (
        scored.groupBy("query_id", F.spark_partition_id().alias("part"))
        .agg(pack.alias("top"))
        .select("query_id", F.explode("top").alias("t"))
        .select("query_id", F.col("t.nc").alias("nc"), F.col("t.nid").alias("nid"))
    )
    return (
        local.groupBy("query_id")
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct("nc", "nid"))), 1, k
            ).alias("top")
        )
        .select("query_id", F.posexplode("top").alias("pos", "t"))
        .select(
            "query_id",
            F.col("t.nid").alias("neighbor_id"),
            (-F.col("t.nc")).alias("cos"),
            (F.col("pos") + 1).alias("rk"),
        )
        .orderBy("query_id", "rk")
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self).
    Returns (query_id, neighbor_id, cos, rk).

    The pair-scoring dot product is the UNROLLED codegen chain (dim
    probed once, like ann_lsh_topk) — the interpreted higher-order
    aggregate/zip_with fold was measured 2.1x slower at 64 dims and
    the exact path is the one users benchmark first. Both sum
    left-to-right, so the rounded cosines are bit-identical."""
    if dim is None:
        dim = _probe_dim(embeddings, vec_col)
    # the query side broadcasts, so the scoring fan-out runs in the
    # corpus side's tasks — which inherit the scan partitioning; a
    # small single-file test input would serialize scoring behind one
    # task. At scale the scan is already wide and this is a no-op-cost
    # shuffle of corpus rows.
    par = max(embeddings.sparkSession.sparkContext.defaultParallelism, 1)
    corpus = unit_vec(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("v0"),
        ).repartition(par),
        "v0",
        "v",
    ).drop("v0")
    q = unit_vec(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv0"),
        ),
        "qv0",
        "qv",
    ).drop("qv0")
    scored = (
        corpus.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos", F.round(dot_unrolled("qv", "v", dim), 6)
        )
    )
    return _partial_topk(scored, k)


def cosine_topk_gemm(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k via the vectorized pandas-UDF path: each Arrow batch
    of corpus vectors forms a matrix and multiplies against the
    broadcast normalized query matrix with ONE numpy GEMM (BLAS) —
    the fast path for wide embeddings at a 100-TB corpus, where a
    per-element expression chain can't compete with SIMD matmul.

    Scale shape: mapInPandas emits at most k rows per (query, Arrow
    batch) — the same local-truncation contract as _partial_topk, which
    then merges to the global top-k. The query side collects to the
    driver and broadcasts inside the closure (queries are few by
    contract — this is a top-k-per-query operator).

    Float caveat: BLAS sums products in SIMD/pairwise order, not
    left-to-right, so scores can differ from cosine_topk in the last
    ulps; parity tests assert neighbor-set equality, and the driver
    check verifies the neighbor SETS against the exact SQL oracle.
    Id columns inherit id_col's type (long/int/string all work — the
    schema is derived from embeddings.schema, not hardcoded).
    Returns (query_id, neighbor_id, cos, rk)."""
    import numpy as np
    import pandas as pd

    id_type = embeddings.schema[id_col].dataType.simpleString()
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return embeddings.sparkSession.createDataFrame(
            [], f"query_id {id_type}, neighbor_id {id_type}, cos double, rk int"
        )
    qids = np.array([r[0] for r in qrows])
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score_batches(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            S = Vn @ Qn.T  # (batch, n_queries) — one GEMM
            out_q, out_n, out_c = [], [], []
            for j, qid in enumerate(qids):
                s = S[:, j]
                idx = np.nonzero(ids != qid)[0]
                if idx.size == 0:
                    continue
                # (-cos, neighbor_id) order, batch-local top-k
                order = idx[np.lexsort((ids[idx], -s[idx]))][:k]
                out_q.extend([qid] * len(order))
                out_n.extend(ids[order])
                out_c.extend(s[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cos": out_c}
            )

    from .partitioning import widen_to_cluster

    local = widen_to_cluster(
        embeddings.select(id_col, vec_col)
    ).mapInPandas(
        score_batches, f"query_id {id_type}, neighbor_id {id_type}, cos double"
    )
    return _partial_topk(local.withColumn("cos", F.round("cos", 6)), k)


def ann_ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer partitions the
    corpus into centroid-owned lists; queries scan only their n_probe
    nearest lists. The second scale path next to SRP-LSH — IVF adapts
    its cells to the data distribution where SRP's planes are
    data-oblivious.

    Deterministic, ORACLE-REPRODUCIBLE training (every step mirrors in
    ANSI SQL):
    1. seed centroids = the unit-normalized corpus vectors with the
       n_centroids smallest ids (data vectors, deterministic);
    2. assign every unit vector to argmax dot(v, seed) — the HOF dot
       folds left-to-right exactly like DuckDB's list_dot_product, so
       assignment is bit-identical; ties break on centroid id;
    3. one Lloyd refinement: centroid_j = per-dimension avg of its
       members, ROUNDED to 6 dp — rounding absorbs the float
       partial-sum ordering differences between engines (empty cells
       simply drop);
    4. reassign to the refined centroids (same argmax rule) = the
       inverted lists; queries probe their n_probe nearest refined
       centroids and brute-force only those lists, then the truncating
       top-k merges. Recall vs cosine_topk is asserted in tests.
    Returns (query_id, neighbor_id, cos, rk)."""
    from .partitioning import widen_to_cluster

    dim = _probe_dim(embeddings, vec_col)
    id_type = embeddings.schema[id_col].dataType.simpleString()
    # widened + materialized once: the frame feeds the seed pick, the
    # Lloyd aggregate, the list assignment and the scoring join — left
    # lazy each consumer re-runs the scan + interpreted normalize HOF
    # (on a single-file fixture input: all behind one task).
    corpus = unit_vec(
        widen_to_cluster(
            embeddings.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).cast("array<double>").alias("v0"),
            )
        ),
        "v0",
        "v",
    ).drop("v0").localCheckpoint(eager=True)

    def assign_clusters(frame: DataFrame, cents: list) -> DataFrame:
        """argmax_j dot(vec, centroid_j), ties to the smallest cluster
        id — the same lexicographic (-sim, cluster) min the old
        groupBy-min computed, as a vectorized mapInPandas pass. A pure
        JVM form (least() over K 64-term structs) is ONE unsplittable
        expression whose generated method blows the JIT's method-size
        limit and runs interpreted (measured 2.4s per assignment pass
        at 20k rows); here each (row, centroid) dot accumulates in the
        SAME left-to-right dimension order as dot_literal/_dot —
        vectorized over rows, sequential over dims — so the sims (and
        the tie-broken argmax: centroids ordered by ascending cluster
        id + first-max-wins) are bit-identical. No shuffle: one
        partition-local pass, vectors ride through Arrow unchanged
        (float64 bits are preserved exactly)."""
        import numpy as np
        import pandas as pd

        ordered = sorted(cents, key=lambda c: c[0])
        cids = [c for c, _ in ordered]
        C = np.array([cv for _, cv in ordered], dtype=np.float64)

        def assign(pdfs):
            for pdf in pdfs:
                if not len(pdf):
                    continue
                V = np.array(list(pdf["v"]), dtype=np.float64)
                if dim == 0:
                    sims = np.zeros((len(V), len(cids)))
                else:
                    V = V.reshape(len(V), dim)
                    sims = V[:, 0, None] * C[None, :, 0]
                    for i in range(1, dim):
                        sims = sims + V[:, i, None] * C[None, :, i]
                with np.errstate(invalid="ignore"):
                    best = np.argmax(sims, axis=1)
                out = pdf[["neighbor_id", "v"]].copy()
                out["cluster"] = np.asarray(cids)[best]
                yield out

        return frame.mapInPandas(
            assign,
            f"neighbor_id {id_type}, v array<double>, cluster {id_type}",
        )

    # seed centroids: the n_centroids smallest-id unit vectors —
    # collected (bounded: n_centroids rows) so the assignment becomes a
    # literal projection instead of a join
    seed_rows = (
        corpus.orderBy("neighbor_id").limit(n_centroids).collect()
    )
    seeds = [(r.neighbor_id, list(r.v)) for r in seed_rows]
    if not seeds:
        return embeddings.sparkSession.createDataFrame(
            [],
            f"query_id {id_type}, neighbor_id {id_type}, cos double, rk int",
        )
    assigned0 = assign_clusters(corpus, seeds)
    # one Lloyd step: per-dimension mean of members, rounded (engine-
    # portable). Shaped as ONE array aggregate — posexplode to
    # (cluster, pos, x), avg per (cluster, pos), fold back into the
    # pos-ordered centroid array — instead of dim per-dimension agg
    # columns: at 1k+ dims the per-column form bloats the plan and
    # overruns codegen method limits, while this shape is
    # dim-independent (plan-asserted in tests at 512 dims). The
    # round(avg, 6) contract is unchanged, so the SQL oracle's
    # per-dimension averages still match bit-for-bit; collecting the
    # K refined centroids (bounded) keeps the reassignment a literal
    # projection too.
    refined_rows = (
        assigned0.select("cluster", F.posexplode("v").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("c")
        )
        .collect()
    )
    refined = [(r.cluster, list(r.c)) for r in refined_rows]
    lists = assign_clusters(corpus, refined)

    q = unit_vec(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv0"),
        ),
        "qv0",
        "qv",
    ).drop("qv0")
    # n_probe nearest refined centroids per query, as a per-row
    # sort_array over the K (tiny) centroid candidates — the same
    # (desc sim, asc cluster) order the old row_number window ranked,
    # without the window's shuffle
    probe_cands = F.array(
        *[
            F.struct(
                (-dot_literal("qv", cvec, dim)).alias("ns"),
                F.lit(cid).alias("cluster"),
            )
            for cid, cvec in refined
        ]
    )
    probes = (
        q.withColumn(
            "pr", F.explode(F.slice(F.sort_array(probe_cands), 1, n_probe))
        )
        .select("query_id", "qv", F.col("pr.cluster").alias("cluster"))
    )
    scored = (
        lists.join(F.broadcast(probes), "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos", F.round(dot_unrolled("qv", "v", dim), 6)
        )
    )
    return _partial_topk(scored, k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 13) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 bytes — stable
    across runs/machines with no RNG dependency."""
    planes = []
    for p in range(n_planes):
        vals: list[float] = []
        ctr = 0
        while len(vals) < dim:
            h = hashlib.md5(f"{seed}:{p}:{ctr}".encode()).digest()
            vals.extend(b / 127.5 - 1.0 for b in h)
            ctr += 1
        planes.append(vals[:dim])
    return planes


def srp_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-random-projection bucket id (one bit per hyperplane)."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        arr = F.array(*[F.lit(x) for x in plane])
        bit = F.when(_dot(vec, arr) >= 0, F.lit(2 ** i)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def ann_lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: probe the query's SRP bucket plus (multiprobe
    level 1) every bucket at Hamming distance 1 — the standard
    multi-probe LSH recall/scan trade. With n_planes=4 and multiprobe=1
    each query scans 5/16 of the corpus on average instead of all of it;
    recall is measured in tests against cosine_topk."""
    if dim is None:
        dim = _probe_dim(embeddings, vec_col)
    planes = _hyperplanes(dim, n_planes)
    # buckets from the RAW vectors (sign is scale-invariant, and the
    # oracle computes them on the raw embedding); cosines from the
    # pre-normalized ones
    par = max(embeddings.sparkSession.sparkContext.defaultParallelism, 1)
    corpus = unit_vec(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("v0"),
        )
        .repartition(par)  # see cosine_topk: spread the scoring tasks
        .withColumn("bucket", srp_bucket(F.col("v0"), planes)),
        "v0",
        "v",
    ).drop("v0")
    q0 = unit_vec(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv0"),
        ).withColumn("bucket0", srp_bucket(F.col("qv0"), planes)),
        "qv0",
        "qv",
    ).drop("qv0")
    probes = [F.col("bucket0")]
    if multiprobe >= 1:
        probes += [
            F.col("bucket0").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)
        ]
    q = q0.withColumn("bucket", F.explode(F.array(*probes))).drop("bucket0")
    scored = (
        corpus.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(dot_unrolled("qv", "v", dim), 6),
        )
    )
    return _partial_topk(scored, k)
