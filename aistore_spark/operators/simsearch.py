"""Similarity search over embedding columns (beyond-reference,
SURVEY.md §7.8): brute-force exact top-k as the baseline, sign-LSH
bucketing as the scale path.

Metric: max-inner-product (MIPS) over fixed-point embeddings — every
vector element is quantized to ``round(x * 10^4)`` int64, so dot
products are exact integer sums: order-independent, bit-identical in
Spark and DuckDB, overflow-safe for |x| <= ~10^5 at 64 dims. (Cosine
needs float norms whose summation order is engine-dependent; for
*ranking* on L2-normalized embeddings MIPS is equivalent.)

Scale design:
- brute-force: broadcast the query set (queries are few), keep the
  corpus partition-parallel; per-partition top-k via window on
  (query, dot) — never a global sort of the corpus.
- sign-LSH: 1 shuffle on bucket id; candidates only join within their
  bucket (multi-probe = widen to neighboring buckets). An IVF variant
  is the same shape with k-means centroids as the bucketer.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aistore_spark.util import (
    map_arrays, map_groups, numpy_column, round_robin,
)

QUANT = 10_000


def quantized(col: Column | str) -> Column:
    """array<float> → array<bigint> fixed-point (1e4)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c, lambda x: F.round(x.cast("double") * QUANT, 0).cast("bigint")
    )


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two array<bigint> columns —
    zip_with product + aggregate sum, all JVM-side codegen."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _ranked(
    scored: DataFrame, score: str, k: int, desc: bool = True
) -> DataFrame:
    """The read paths' top-k tail: per ``query_id`` the *k* best rows
    by *score* (descending for dots, ascending for ADC distances), ties
    to the lower ``neighbor_id``, numbered 1..k as ``rank``."""
    order = F.col(score).desc() if desc else F.col(score).asc()
    w = Window.partitionBy("query_id").orderBy(
        order, F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", score)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact MIPS top-k: for each query vector, the k corpus vectors
    with the largest integer dot product (ties → lower id first).
    Self-matches are excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), quantized(vec_col).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantized(vec_col).alias("cvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            int_dot(F.col("qvec"), F.col("cvec")).alias("dot"),
        )
    )
    return _ranked(scored, "dot", k)


def sign_lsh_bucket(vec_col: Column | str, n_bits: int = 8) -> Column:
    """Sign-quantization LSH bucket id: the sign pattern of the first
    *n_bits* (quantized) components as a '0'/'1' string. Axis-aligned
    hyperplanes — deterministic and engine-portable; random-projection
    planes are a broadcast matrix away, same plan shape."""
    qv = quantized(vec_col)
    return F.array_join(
        F.transform(
            F.slice(qv, 1, n_bits),
            lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0")),
        ),
        "",
    )


def lsh_bucket_stats(corpus: DataFrame, n_bits: int = 8) -> DataFrame:
    """Bucket occupancy — the data the multi-probe planner needs."""
    return (
        corpus.select(sign_lsh_bucket("embedding", n_bits).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"))
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_bits: int = 8,
    multiprobe: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact MIPS rerank within it. Recall grows with fewer
    bits / multi-probe; the shuffle is only on bucket id.

    ``multiprobe=1`` additionally probes every Hamming-1 neighbor
    bucket (flip each of the *n_bits* in turn) — the classic
    multi-probe LSH trade: n_bits+1 probe rows per query instead of a
    coarser table. The PLAN is unchanged: the probe set is still a
    tiny broadcast frame joined on bucket id; the corpus side is
    untouched (bucket computed in codegen, never shuffled).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantized(vec_col).alias("qvec"),
        sign_lsh_bucket(vec_col, n_bits).alias("bucket"),
    )
    if multiprobe:
        if multiprobe != 1:
            raise ValueError("multiprobe: only Hamming radius 0 or 1 supported")
        # bucket itself (i=0) plus each single-bit flip (i=1..n_bits)
        b = F.col("bucket")
        flips = F.transform(
            F.sequence(F.lit(0), F.lit(n_bits)),
            lambda i: F.when(i == F.lit(0), b).otherwise(
                F.concat(
                    b.substr(F.lit(1), (i - 1).cast("int")),
                    F.when(
                        b.substr(i.cast("int"), F.lit(1)) == "1", F.lit("0")
                    ).otherwise(F.lit("1")),
                    b.substr((i + 1).cast("int"), F.lit(n_bits)),
                )
            ),
        )
        q = q.select("query_id", "qvec", F.explode(flips).alias("bucket"))
    # round-robin the RAW corpus before quantize/bucket/join (r14):
    # the scoring join inherits the scan's input splits, and a
    # single-row-group parquet (or a bucket-correlated file order)
    # concentrates the per-pair dot work — the r14 sf10 task-skew
    # sweep read this stage at 682x on ann3b (one 76 s task among 13,
    # twelve at ~100 ms) before the exchange. The projection sits
    # AFTER the exchange so the quantize/bucket compute spreads too;
    # what stays in the scan task is only the parquet decode. Linear
    # corpus bytes, same seam as ivf_topk's r11 fix.
    c = _rebalance(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v"))
    ).select(
        "neighbor_id",
        quantized("_v").alias("cvec"),
        sign_lsh_bucket("_v", n_bits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            int_dot(F.col("qvec"), F.col("cvec")).alias("dot"),
        )
    )
    return _ranked(scored, "dot", k)


#: output of the all-pairs operators
_PAIR_SCHEMA = "vec_a bigint, vec_b bigint, dot bigint"


def block_pairs_above(
    corpus: DataFrame,
    threshold: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs inner products above *threshold* via block matrix
    multiply: broadcast the quantized corpus as one int64 numpy matrix,
    then each partition multiplies its block against it (exact integer
    math — bit-identical to the per-pair formulation, ~100x faster
    than per-element codegen).

    This is the distributed brute-force pattern: O(rows x corpus) work
    split by partition, driver holds one copy of the matrix. Broadcast
    is viable to ~10^6 x 64 int64 (~0.5 GB); beyond that, go through
    sign-LSH buckets (``lsh_topk``) or IVF shards first and run this
    per bucket.
    """
    q = corpus.select(
        F.col(id_col).alias("_id"), quantized(vec_col).alias("_q")
    )
    # one Arrow collect, never per-row Row objects: at the ~10^6-vector
    # viability limit collect() would build millions of them
    sc = corpus.sparkSession.sparkContext
    b_ids, b_mat = map(sc.broadcast, _collect_cents(q))

    def blocks(batches):
        all_ids, all_mat = b_ids.value, b_mat.value
        for my_ids, my_q in batches:
            # fixed-point operands: every dot is exact in float64
            dots = my_q.astype(np.float64) @ all_mat.T
            li, ri = np.nonzero(dots >= threshold)
            va, vb = my_ids[li], all_ids[ri]
            keep = va < vb  # upper triangle only, no self-pairs
            yield va[keep], vb[keep], dots[li, ri][keep].astype(np.int64)

    return map_arrays(q, ["_id", "_q"], _PAIR_SCHEMA, blocks)


def blocked_pairs_above(
    corpus: DataFrame,
    threshold: int,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs inner products above *threshold* — the SCALE-SAFE
    form: classic 2-D blocked matrix multiply with **no driver hop**.

    Each vector lands in block ``id % n_blocks``; a generated
    ``(bi, bj), bi <= bj`` cell table fans the corpus out so every
    unordered vector pair meets in exactly one cell: same-block pairs
    in the diagonal cell (upper triangle emitted), cross-block pairs in
    their one ``(min_blk, max_blk)`` cell (orientation normalized to
    ``vec_a < vec_b``) — so the union of cell outputs IS the exact
    pair set, no dedup shuffle afterwards.

    Cost shape: compute is the unavoidable O(N^2) dot products; the
    *shuffle* is O(N * n_blocks) short rows (each vector is shipped to
    ``n_blocks`` cells), and per-task memory is two row blocks of
    ~N/n_blocks vectors — pick ``n_blocks ~ N * dim * 8 / target_task_
    bytes`` so a cell's matrices fit an executor. Contrast
    :func:`block_pairs_above`, which collects the corpus on the driver
    and broadcasts it: faster below ~10^6 x 64 but a hard wall beyond.
    At 100 TB, cut candidates with sign-LSH/IVF first and run this per
    bucket.
    """
    spark = corpus.sparkSession
    q = corpus.select(
        F.col(id_col).alias("_id"),
        quantized(vec_col).alias("_q"),
        (F.col(id_col) % n_blocks).alias("_blk"),
    )
    cells = (
        spark.range(n_blocks)
        .select(F.col("id").alias("bi"))
        .crossJoin(spark.range(n_blocks).select(F.col("id").alias("bj")))
        .filter(F.col("bi") <= F.col("bj"))
    )
    cell = (F.col("bi") * n_blocks + F.col("bj")).alias("_cell")
    a_side = q.join(F.broadcast(cells), q["_blk"] == cells["bi"]).select(
        cell, "bi", "bj", F.lit("a").alias("_role"), "_id", "_q"
    )
    b_side = q.join(
        F.broadcast(cells),
        (q["_blk"] == cells["bj"]) & (cells["bi"] != cells["bj"]),
    ).select(cell, "bi", "bj", F.lit("b").alias("_role"), "_id", "_q")

    def cell_mm(bi, bj, role, ids, vecs):
        # Diagonality comes from the CELL KEY, never from which roles
        # showed up: a sparse id distribution can leave a cross cell
        # with only a-rows (empty bj block), and treating that as a
        # diagonal cell would re-emit the (bi, bi) pairs — duplicates.
        diagonal = bi[0] == bj[0]
        ids = np.array(ids, dtype=np.int64)
        vecs = np.array(vecs, dtype=np.int64)
        is_a = np.array(role) == "a"
        a, b = is_a, is_a if diagonal else ~is_a
        dots = vecs[a] @ vecs[b].T  # exact int64
        li, ri = np.nonzero(dots >= threshold)
        va, vb, d = ids[a][li], ids[b][ri], dots[li, ri]
        if diagonal:
            keep = va < vb  # upper triangle once
            va, vb, d = va[keep], vb[keep], d[keep]
        # a cross cell holds each unordered pair once; normalize order
        return zip(
            np.minimum(va, vb).tolist(),
            np.maximum(va, vb).tolist(),
            d.tolist(),
        )

    return map_groups(
        a_side.unionByName(b_side), "_cell", ["_id"],
        ["bi", "bj", "_role", "_id", "_q"], _PAIR_SCHEMA, cell_mm,
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF cell assignment: each vector joins its max-inner-product
    centroid (ties → lower centroid id). The centroid set is tiny and
    broadcast; the corpus never shuffles for assignment.

    Centroids here are caller-chosen vectors (deterministic); a k-means
    refinement is the same plan iterated (assign → mean per cell →
    reassign), each iteration one broadcast join + one groupBy.
    """
    c = centroids.select(
        F.col(id_col).alias("centroid_id"), quantized(vec_col).alias("cvec")
    )
    v = corpus.select(
        F.col(id_col).alias("vec"), quantized(vec_col).alias("vq")
    )
    ids, mat = _collect_cents(c)
    return _assign_topk(v, ids, mat, "vec", 1).select(
        F.col("vec").alias("vec_id"),
        "centroid_id",
        F.col("cdot").alias("dot"),
    )


#: centroid-matrix block width for the vectorized assignment: bounds
#: the per-batch score matrix at (arrow_batch x _CENT_BLOCK) float64
#: (~640 MB at 10k-row batches), so K = sqrt(N) growing into the
#: millions never inflates worker memory — blocks stream and the
#: running top-nprobe merges exactly.
_CENT_BLOCK = 8192


def _collect_cents(centroids_q: DataFrame) -> tuple:
    """Materialize a small quantized ``(id, vec)`` frame — centroids,
    a PQ codebook or an ANN query set — to the driver as (ids
    int64[K], mat float64[K, d]), sorted by id so vectorized
    tie-breaks (first max) equal the declarative ones (lower id). For
    centroids K is sqrt(N) at worst — the same K rows the old
    crossJoin(broadcast) shipped to every task. One Arrow collect,
    converted as :func:`~aistore_spark.util.map_arrays` converts a
    batch."""
    table = centroids_q.toArrow()
    ids, vecs = (numpy_column(c.combine_chunks()) for c in table.columns)
    order = np.argsort(ids, kind="stable")
    return ids[order].astype(np.int64), vecs[order].astype(np.float64)


def _top_cells(vecs, ids, mat, nprobe: int):
    """Exact top-*nprobe* max-inner-product cells for each row of
    *vecs* against the id-sorted centroid matrix *mat*, scored in
    :data:`_CENT_BLOCK`-wide blocks with a running merge, ties to the
    LOWER id (stable lexsort on (-dot, id)). Returns ``(dots, ids)``,
    each ``[n, min(nprobe, K)]``."""
    best_d = best_c = None
    for s in range(0, len(ids), _CENT_BLOCK):
        scores = vecs @ mat[s : s + _CENT_BLOCK].T
        cids = np.broadcast_to(ids[s : s + _CENT_BLOCK], scores.shape)
        if best_d is not None:
            scores = np.concatenate([best_d, scores], axis=1)
            cids = np.concatenate([best_c, cids], axis=1)
        idx = np.lexsort((cids, -scores), axis=1)[:, :nprobe]
        best_d = np.take_along_axis(scores, idx, axis=1)
        best_c = np.take_along_axis(cids, idx, axis=1)
    return best_d, best_c


def _nearest_code(vj, book):
    """Nearest codeword per row of the subvectors *vj* by exact integer
    L2 (|a|²+|b|²−2a·b, every term exact in float64) against the
    code-sorted *book*: ``(index into book, distance)``. numpy argmin
    takes the FIRST minimum, so ties go to the lower code id."""
    d = (
        (vj**2).sum(axis=1)[:, None]
        + (book**2).sum(axis=1)[None, :]
        - 2.0 * (vj @ book.T)
    )
    best = np.argmin(d, axis=1)
    return best, d[np.arange(len(vj)), best]


def _pq_codes(vq, book: tuple, m: int, dim: int):
    """PQ codes of the quantized vectors *vq* ``[n, dim]``: in each of
    the *m* subspaces, the :func:`_nearest_code` of the subvectors in
    *book* (the codebook as collected by :func:`_collect_cents`).
    Returns ``(codes, dists)``, each int64 ``[n, m]``."""
    cids, cmat = book
    csub = cmat.reshape(len(cids), m, dim // m)
    vecs = vq.astype(np.float64).reshape(len(vq), m, dim // m)
    code = np.empty((len(vq), m), dtype=np.int64)
    dist = np.empty((len(vq), m), dtype=np.int64)
    for j in range(m):
        best, dist[:, j] = _nearest_code(vecs[:, j, :], csub[:, j, :])
        code[:, j] = cids[best]
    return code, dist


def _vectors(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The corpus as ``(vec_id, vq)``: ids and quantized vectors."""
    return corpus.select(
        F.col(id_col).alias("vec_id"), quantized(vec_col).alias("vq")
    )


def _assign_topk(
    v: DataFrame, ids, mat, out_id: str, nprobe: int
) -> DataFrame:
    """Arrow-batched max-inner-product cell assignment: per input
    batch ONE numpy matmul against the (blocked) centroid matrix,
    keeping a running exact top-*nprobe* per row. Replaces the
    crossJoin(broadcast)+zip_with shape, which materialized N x K
    array-carrying rows and evaluated the dot per row in interpreted
    higher-order functions — measured >20 min for the 200K x 447
    sf10 build where this path takes seconds.

    Exactness: operands are fixed-point integers |q| <= 1e4, so every
    product (<= 1e8) and 64-term dot (<= 6.4e9) is exactly
    representable in float64 — BLAS summation order cannot change an
    exact integer result, and ties break to the LOWER centroid_id via
    a stable lexsort on (-dot, centroid_id). Bit-identical to the
    declarative form, just vectorized.
    """
    def run(batches):
        for vec_ids, vq in batches:
            vecs = vq.astype(np.float64)
            best_d, best_c = _top_cells(vecs, ids, mat, nprobe)
            rep = np.repeat(np.arange(len(vq)), best_d.shape[1])
            yield (
                vec_ids[rep],
                best_c.reshape(-1),
                best_d.reshape(-1).astype(np.int64),
                vq[rep],
            )

    return map_arrays(
        v, [out_id, "vq"],
        f"{out_id} bigint, centroid_id bigint, cdot bigint, vq array<bigint>",
        run,
    )


def _cells(
    df: DataFrame,
    cents: tuple,
    out_id: str,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Top-*nprobe* max-inner-product cells per vector, carrying the
    quantized vector along — the vectorized :func:`_assign_topk` under
    the hood: *cents* is the K-row centroid frame as collected by
    :func:`_collect_cents` (the same K rows a broadcast ships to every
    task), and each batch is scored by one blocked matmul; no
    crossJoin, no window exchange, the corpus never shuffles."""
    v = df.select(
        F.col(id_col).alias(out_id), quantized(vec_col).alias("vq")
    )
    return _assign_topk(v, *cents, out_id, nprobe).select(
        out_id, "centroid_id", "vq"
    )


def _rebalance(df: DataFrame) -> DataFrame:
    """Round-robin exchange breaking input-split inheritance before a
    compute-heavy stage. The Arrow map (``mapInArrow``, through
    :func:`~aistore_spark.util.map_arrays`) preserves the scan's input
    splits, so on a clustered corpus one split can hold all the
    heavily-probed rows: measured at sf10, one 40-min task while
    twelve sat idle. Seam kept separate so tests/test_skew.py can
    patch it to identity and prove the bench straggler detector
    (aistore_spark/skew.py) trips on exactly that plan shape."""
    return round_robin(df)


def ivf_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN search: each query probes its *nprobe* best cells and
    exact-reranks only the corpus vectors assigned (rn=1) to those
    cells. The full IVF index read path: coarse-quantize -> probe ->
    rerank.

    Scale shape: centroids broadcast (assignment never shuffles the
    corpus beyond one agg row per vector); the probe set is queries x
    nprobe rows and is broadcast into the candidate join, so corpus
    bytes move zero times; only the candidate set (cells' occupants)
    is scored. Recall is tunable via nprobe; exactness within probed
    cells is guaranteed (integer dot, deterministic ties).
    """
    cents = _collect_cents(centroids.select(id_col, quantized(vec_col)))
    assign = _cells(corpus, cents, "neighbor_id", 1, id_col, vec_col)
    # Round-robin the assignments before the scoring join. The
    # vectorized _cells preserves the corpus scan's input splits (the
    # pre-r11 shape ended in a window exchange that evened this out
    # implicitly), so scoring parallelism would be the split count and
    # — on a clustered corpus whose parquet order correlates with cell
    # membership — one split would hold the heavily-probed cells:
    # measured at sf10, one task carried 40+ min of the interpreted-dot
    # work while twelve finished in seconds. The shuffle moves only
    # (id, cell, vq) rows — linear bytes, trivial against the
    # nprobe-scaled candidate scoring it parallelizes. The PQ read path
    # (ivfpq_topk) re-shuffles via its codes-join and doesn't need it.
    assign = _rebalance(assign)
    probe = _cells(queries, cents, "query_id", nprobe, id_col, vec_col).select(
        "query_id", "centroid_id", F.col("vq").alias("qq")
    )
    scored = (
        assign.join(F.broadcast(probe), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            int_dot(F.col("qq"), F.col("vq")).alias("dot"),
        )
    )
    return _ranked(scored, "dot", k)


def _cell_means(assigned: DataFrame) -> DataFrame:
    """Per-cell floor-div integer means of the assigned quantized
    vectors ``(centroid_id, vq)``, in the long form ``(centroid_id,
    dim, mean_q, n_vecs)``: one partial/final agg keyed on (centroid,
    dim)."""
    return (
        assigned.select(
            "centroid_id", F.posexplode(F.col("vq")).alias("dim0", "q")
        )
        .groupBy("centroid_id", (F.col("dim0") + 1).alias("dim"))
        .agg(
            F.expr("sum(q) div count(*)").alias("mean_q"),
            F.count("*").alias("n_vecs"),
        )
        .select(
            "centroid_id",
            F.col("dim").cast("bigint").alias("dim"),
            "mean_q",
            "n_vecs",
        )
    )


def kmeans_step(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One k-means refinement iteration for the IVF coarse quantizer:
    assign every vector to its max-inner-product centroid (rn=1), then
    emit the new centroid as per-dimension integer means (floor-div —
    deterministic, engine-portable) in long form ``(centroid_id, dim,
    mean_q, n_vecs)``.

    Scale shape: assignment is the broadcast+agg of ``ivf_topk`` (one
    combiner row per vector); the mean is a partial/final agg keyed on
    (centroid, dim) — at 64 dims the shuffle is 64 small rows per
    vector, or fold the sums into a single vector-valued agg via
    ``F.aggregate`` if that ever shows up in a profile. Iterating =
    feeding the output back as the next centroid set.
    """
    cents = _collect_cents(centroids.select(id_col, quantized(vec_col)))
    return _cell_means(_cells(corpus, cents, "vec", 1, id_col, vec_col))


def kmeans_train(
    corpus: DataFrame,
    centroids: DataFrame,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Iterated k-means for the IVF coarse quantizer — the index BUILD
    loop (:func:`kmeans_step` is one pass; this feeds the means back
    as the next centroid set for *iters* passes and returns the final
    step's output in the same long form ``(centroid_id, dim, mean_q,
    n_vecs)``).

    All arithmetic stays in the exact integer domain: the initial
    centroids are quantized once, every subsequent centroid is the
    floor-div mean of already-quantized vectors, so the whole training
    loop is engine-portable and oracle-checkable bit-for-bit.

    Scale shape per iteration: the k-row centroid table is
    materialized once (k = sqrt(N) at worst — the same rows a
    broadcast ships to every task), assignment is ONE blocked numpy
    matmul per Arrow batch (:func:`_assign_topk` — no crossJoin, no
    window over the vector×centroid product), then one (centroid, dim)
    agg. The corpus moves through ONE linear-bytes round-robin
    exchange before the loop, because ``_assign_topk``'s Arrow map
    preserves the scan's input splits: a single-row-group parquet
    would run every pass's matmul in one task (the sf10 skew probe
    read 28x on ann6b). The plan depth is constant in *iters* because
    each pass's means are literals in the next pass's closure (empty
    cells drop out, exactly as the SQL twin's GROUP BY does).
    """
    # exchange first, quantize after — the projection compute spreads
    # with the rows instead of running inside the (possibly single)
    # scan split. PINNED (r16): every training pass re-reads this
    # frame (iters-1 driver collects + the final lazy pass), so
    # without the pin the scan + exchange + quantize chain re-executes
    # per pass — guide §5 caching: reused AND more expensive to
    # recompute than to hold.
    from aistore_spark.util import pin

    v = pin(
        _rebalance(
            corpus.select(
                F.col(id_col).alias("vec"), F.col(vec_col).alias("_v")
            )
        ).select("vec", quantized("_v").alias("vq"))
    )
    ids, mat = _collect_cents(
        centroids.select(
            F.col(id_col).alias("centroid_id"), quantized(vec_col).alias("cvec")
        )
    )
    out = None
    n_iters = max(1, iters)
    for i in range(n_iters):
        out = _cell_means(_assign_topk(v, ids, mat, "vec", 1))
        if i < n_iters - 1:
            by_cent: dict[int, dict[int, int]] = {}
            for r in out.select("centroid_id", "dim", "mean_q").collect():
                by_cent.setdefault(r[0], {})[r[1]] = r[2]
            ids = np.array(sorted(by_cent), dtype=np.int64)
            mat = np.array(
                [
                    [by_cent[c][d] for d in sorted(by_cent[c])]
                    for c in sorted(by_cent)
                ],
                dtype=np.float64,
            )
    return out


# ---- Product quantization (PQ) — the ANN compression path -------------------


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encoding: split each *dim*-vector into *m* subspaces and map
    every subvector to its nearest codeword (exact integer L2, ties →
    lower code id). Returns ``(vec_id, m, code, dist)`` — the
    compressed representation is ``m`` small ints per vector
    (codebook size × m lookup bytes instead of dim floats).

    Scale shape: the codebook (k codewords, k = 64 shipped) is
    materialized once at plan build and each corpus Arrow batch is
    encoded by m small numpy matmuls (L2 via the |a|²+|b|²−2a·b
    identity — every term an exact integer in float64) — no
    vector×code row product, no shuffle, one output row per (vector,
    subspace). argmin ties break to the LOWER code id because the
    codeword matrix is sorted by code and numpy argmin takes the
    first minimum.
    """
    book = _collect_cents(codebook.select(id_col, quantized(vec_col)))
    m_idx = np.arange(m, dtype=np.int32)

    def run(batches):
        for vec_ids, vq in batches:
            code, dist = _pq_codes(vq, book, m, dim)
            yield (
                np.repeat(vec_ids, m),
                np.tile(m_idx, len(vq)),
                code.reshape(-1),
                dist.reshape(-1),
            )

    return map_arrays(
        _vectors(corpus, id_col, vec_col), ["vec_id", "vq"],
        "vec_id bigint, m int, code bigint, dist bigint", run,
    )


def pq_adc_topk(
    corpus: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: queries score the
    *compressed* corpus — distance(query, vector) ≈ sum over subspaces
    of L2(query_sub, codeword[code_sub]) from a per-query lookup
    table. Smallest ADC wins (ties → lower neighbor id); self-matches
    excluded.

    Scale shape: full-corpus ADC is all-pairs BY DESIGN (every query
    scores every vector's code) — the candidate stream is the encoded
    corpus × a broadcast query-id list, and each row costs one numpy
    LUT gather (:func:`_adc_score`; r14 — previously the m-exploded
    codes joined a broadcast per-query distance table and hash-agg'd,
     4× the rows and a queries-scaled hash relation probed per row).
    Per-partition exact top-k pruning bounds the rank shuffle at
    partitions × queries × k rows. Raw corpus vectors are read once
    at encode time and never again — the memory-bound regime PQ
    exists for.
    """
    book = _collect_cents(codebook.select(id_col, quantized(vec_col)))
    codes = pq_encode_wide(
        corpus, book, m=m, dim=dim, id_col=id_col, vec_col=vec_col
    )
    # Round-robin the codes before the fan-out — pq_encode_wide's
    # Arrow map preserves the corpus scan's input splits, so the
    # dominant scoring work would otherwise run at split-count
    # parallelism. The shuffle moves one m-int code row per vector —
    # linear, trivial against the #queries-scaled fan-out it
    # parallelizes. (ivfpq_topk doesn't need this: its
    # codes-joins-assign shuffle does it.)
    codes = _rebalance(codes)
    cids, cmat = book
    q_ids, qmat = _collect_cents(queries.select(id_col, quantized(vec_col)))
    lut = _adc_lut(qmat, cmat, m, dim)
    # the query fan-out happens inside the scoring kernel, so only the
    # N code rows cross the Python boundary, never Q×N candidate rows
    scored = _adc_topk_full_scan(codes, q_ids, cids, lut, m, k)
    return _ranked(scored, "adc", k, desc=False)


def pq_encode_wide(
    corpus: DataFrame,
    book: tuple,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`pq_encode`'s math with a WIDE output — ``(vec_id, codes
    array<bigint>[m])``, one row per vector instead of one per
    (vector, subspace). The ADC read paths consume this form so the
    candidate stream is never exploded ×m (at sf100 the long form
    turned 566M candidates into 4.5B join-probe rows — the r14
    third-decade finding). *book* is the codebook as collected by
    :func:`_collect_cents`, so a caller that also needs it for the ADC
    table collects it once."""

    def run(batches):
        for vec_ids, vq in batches:
            yield vec_ids, _pq_codes(vq, book, m, dim)[0]

    return map_arrays(
        _vectors(corpus, id_col, vec_col), ["vec_id", "vq"],
        "vec_id bigint, codes array<bigint>", run,
    )


def _assign_encode_wide(
    corpus: DataFrame,
    cents: tuple,
    code: tuple,
    m: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """ONE corpus pass producing both the rn=1 cell assignment and the
    wide PQ codes — ``(vec_id, centroid_id, codes[m])``: one Arrow map
    (:func:`~aistore_spark.util.map_arrays`) runs the numpy blocks of
    :func:`_cells` and :func:`pq_encode_wide` on each batch, so the
    index needs no second corpus scan and no corpus-sized join of the
    two results on vec_id.

    Exactness: identical math to the two parents — blocked argmax-dot
    with ties to the LOWER centroid id (ids sorted, lexsort), per-
    subspace argmin L2 with ties to the lower code (first minimum on
    the code-sorted matrix); all operands fixed-point ints exact in
    float64. *cents* and *code* are the centroid and codebook frames
    as collected by :func:`_collect_cents`."""
    ids, mat = cents

    def run(batches):
        for vec_ids, vq in batches:
            _, best_c = _top_cells(vq.astype(np.float64), ids, mat, 1)
            yield vec_ids, best_c.reshape(-1), _pq_codes(vq, code, m, dim)[0]

    return map_arrays(
        _vectors(corpus, id_col, vec_col), ["vec_id", "vq"],
        "vec_id bigint, centroid_id bigint, codes array<bigint>", run,
    )


def _adc_lut(qmat, cmat, m: int, dim: int):
    """Driver-side numpy ADC lookup table — the FAISS shape of
    the retired broadcast-joined ADC-table plan: ``lut[q_idx,
    subspace, code_idx]`` = exact
    integer L2 between the query subvector and the codeword, over the
    query and codebook matrices as collected (id-sorted) by
    :func:`_collect_cents`. Returns ``lut int64[nq, m, k]``.

    The table is queries-scaled (nq × m × k): 10M int64 at sf100's
    20k queries — an 80 MB broadcast VARIABLE gathered by numpy at
    ~ns/element. Its Catalyst twin (the broadcast-JOINED
    retired in r14) probed a 41M-row hash relation once per
    candidate×subspace row; measured at sf100 that was 4.5B
    collision-chained lookups and the stage sat >35 min at full CPU
    without finishing — the broadcast-join form does not survive the
    third decade, this form does.

    Exactness: operands are fixed-point integers (|q| ≤ 1e4), so every
    squared difference and sub-dim sum is an exact integer in float64
    before the int64 cast."""
    sub = dim // m
    csub = cmat.reshape(len(cmat), m, sub)  # (k, m, sub)
    qsub = qmat.reshape(len(qmat), m, sub)
    return (
        (qsub**2).sum(axis=2)[:, :, None]
        + (csub**2).sum(axis=2).T[None, :, :]
        - 2.0 * np.einsum("qms,kms->qmk", qsub, csub)
    ).astype(np.int64)


def _keep_best(acc, out: tuple, k: int) -> tuple:
    """Merge a batch's ``(query_id, neighbor_id, adc)`` columns into the
    running per-query best *k* under the final window's total order
    (adc asc, neighbor_id asc) — exact, so partial top-k never drops a
    global winner. Returns the kept columns sorted by (query_id, adc,
    neighbor_id)."""
    if acc is not None:
        out = tuple(np.concatenate(c) for c in zip(acc, out))
    order = np.lexsort((out[1], out[2], out[0]))
    q = out[0][order]
    # rank within the query: position minus the query's first position
    keep = order[np.arange(len(q)) - np.searchsorted(q, q) < k]
    return tuple(c[keep] for c in out)


#: output of the ADC scoring kernels
_ADC_SCHEMA = "query_id bigint, neighbor_id bigint, adc bigint"


def _adc_score(
    cands: DataFrame,
    q_ids,
    code_ids,
    lut,
    m: int,
    k_keep: int | None = None,
) -> DataFrame:
    """Arrow-batched ADC scoring: per candidate row ``(query_id,
    neighbor_id, codes[m])`` one vectorized LUT gather + row sum —
    replaces the (m-exploded candidates) ⋈ (broadcast ADC table) ⋈
    hash-agg chain with numpy. With ``k_keep`` (exact-k reads, k ≤
    :data:`_ADC_PARTIAL_TOPK_MAX`) each partition additionally keeps
    only its k best rows per query under the FINAL comparator (adc
    asc, neighbor_id asc) — per-partition top-k is exact for a total
    order, so the global window sees ≤ partitions × queries × k rows
    instead of the full candidate stream."""
    def run(batches):
        js = np.arange(m)
        acc = None
        for bq, bn, bc in batches:
            qi = np.searchsorted(q_ids, bq).clip(0, len(q_ids) - 1)
            ci = np.searchsorted(code_ids, bc).clip(0, len(code_ids) - 1)
            # membership check (ADVICE-r14): searchsorted on an absent
            # id gathers a WRONG LUT row silently — a caller whose
            # queries/codebook frame diverged from the LUT build must
            # fail loudly, not mis-rank. One vectorized compare per
            # Arrow batch, ~free next to the gather.
            if not (
                np.array_equal(q_ids[qi], bq)
                and np.array_equal(code_ids[ci], bc)
            ):
                raise ValueError(
                    "_adc_score: candidate query_id/code not present in "
                    "the ADC LUT — candidates were built against a "
                    "different queries/codebook frame"
                )
            out = bq, bn, lut[qi[:, None], js[None, :], ci].sum(axis=1)
            if k_keep is None:
                yield out
            else:
                acc = _keep_best(acc, out, k_keep)
        if acc is not None:
            yield acc

    return map_arrays(
        cands, ["query_id", "neighbor_id", "codes"], _ADC_SCHEMA, run
    )


def _adc_topk_full_scan(
    codes: DataFrame, q_ids, code_ids, lut, m: int, k: int
) -> DataFrame:
    """Full-corpus ADC scan with the query fan-out INSIDE the kernel
    (r16, guide §4.1 — pass only the columns the function needs): the
    old plan crossJoined the encoded corpus against the broadcast
    query-id list, shipping Q×N candidate rows through Arrow so that
    :func:`_adc_score` could gather each one. The scores are a pure
    function of (codes row, LUT), so each codes row now crosses the
    boundary ONCE and the kernel scores all queries per batch —
    emitted rows are the per-partition exact top-k per query
    (partitions × Q × k), never the Q×N stream.

    Exactness: same integer LUT gather; per batch the rows are
    pre-sorted by neighbor id and the stable argsort makes ties break
    to the lower neighbor, the final window's comparator; self-matches
    (vec_id == query_id) are dropped, so a k+1 per-batch cut always
    leaves k valid rows when they exist."""
    def run(batches):
        acc = None
        for bn, bc in batches:
            order = np.argsort(bn, kind="stable")
            bn, bc = bn[order], bc[order]
            ci = np.searchsorted(code_ids, bc).clip(0, len(code_ids) - 1)
            if not np.array_equal(code_ids[ci], bc):
                raise ValueError(
                    "_adc_topk_full_scan: corpus code not present in the "
                    "ADC LUT — codes were built against a different "
                    "codebook frame"
                )
            kk = min(k + 1, len(bn))
            parts = []
            # chunk the query axis so the (Qc, n) score block stays
            # bounded regardless of query count
            for s in range(0, len(q_ids), 512):
                qs = q_ids[s : s + 512]
                lut_s = lut[s : s + 512]
                adc = np.zeros((len(qs), len(bn)), dtype=np.int64)
                for j in range(m):
                    adc += lut_s[:, j, :][:, ci[:, j]]
                idx = np.argsort(adc, axis=1, kind="stable")[:, :kk]
                parts.append((
                    np.repeat(qs, kk),
                    bn[idx].reshape(-1),
                    np.take_along_axis(adc, idx, axis=1).reshape(-1),
                ))
            q, nb, adc = (np.concatenate(c) for c in zip(*parts))
            other = q != nb
            acc = _keep_best(acc, (q[other], nb[other], adc[other]), k)
        if acc is not None:
            yield acc

    return map_arrays(codes, ["vec_id", "codes"], _ADC_SCHEMA, run)


#: per-partition ADC top-k pruning is applied when k is at most this —
#: retained rows per partition are bounded by queries × k, which at
#: the sized-shortlist tier (k = shortlist ≈ √N/5 · nprobe) would be
#: the full pair frame again, defeating the prune.
_ADC_PARTIAL_TOPK_MAX = 64


def ivfpq_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the production billion-scale ANN read path — coarse
    quantizer prunes the candidate set to *nprobe* cells, PQ codes
    stand in for raw vectors when ranking the survivors by ADC.

    Composition of :func:`ivf_assign`-style cell assignment (rn=1 via
    partial-agg, no window) + :func:`pq_encode` + the broadcast ADC
    table of :func:`pq_adc_topk`, with the cell filter applied BEFORE
    the distance join, so per query only its probed cells' codes are
    scored.

    Scale shape: corpus bytes move zero times after encode — the
    encoded index (an m-int code array + a cell id per vector) is the
    only corpus-derived frame; it joins broadcast probes, then each
    candidate row is ADC-scored by ONE numpy LUT gather
    (:func:`_adc_score` — r14: the previous broadcast-JOINED ADC
    table was queries × m × k rows, and at sf100 the resulting 4.5B
    collision-chained hash probes never finished; the LUT form is the
    FAISS division of labor and also removes the ×m candidate
    explosion and the hash agg). Recall = IVF recall within probed
    cells (PQ ADC ranks approximately but deterministically).

    Construction collects centroids, codebook and queries to the
    driver once each (three driver jobs); the cell assignment, the PQ
    encode and the ADC LUT all reuse those arrays.
    """
    return _ivfpq_adc(
        corpus,
        queries,
        _collect_cents(centroids.select(id_col, quantized(vec_col))),
        _collect_cents(codebook.select(id_col, quantized(vec_col))),
        _collect_cents(queries.select(id_col, quantized(vec_col))),
        k, nprobe, m, dim, id_col, vec_col,
    )


def _ivfpq_adc(
    corpus: DataFrame,
    queries: DataFrame,
    cents: tuple,
    code: tuple,
    qs: tuple,
    k: int,
    nprobe: int,
    m: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """:func:`ivfpq_topk`'s plan over the centroid, codebook and query
    frames as :func:`_collect_cents` returns them."""
    # fused index build (r16): one corpus pass emits (vec_id, cell,
    # codes) — see _assign_encode_wide; the old two-pass build paid a
    # second corpus scan plus a corpus×corpus shuffle join on vec_id.
    # The round-robin exchange that join used to provide is kept
    # explicitly: the probe join below would otherwise inherit the
    # scan's input splits (the r11 straggler class) — linear bytes,
    # one exchange instead of the join's two.
    indexed = _rebalance(
        _assign_encode_wide(corpus, cents, code, m, dim, id_col, vec_col)
    )
    probe = _cells(queries, cents, "query_id", nprobe, id_col, vec_col).select(
        "query_id", "centroid_id"
    )
    (q_ids, qmat), (cids, cmat) = qs, code
    lut = _adc_lut(qmat, cmat, m, dim)
    cands = (
        indexed.join(F.broadcast(probe), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "codes")
    )
    scored = _adc_score(
        cands, q_ids, cids, lut, m,
        k_keep=k if k <= _ADC_PARTIAL_TOPK_MAX else None,
    )
    return _ranked(scored, "adc", k, desc=False)


def recall_held_nprobe(
    n_cells: int, frac_num: int = 9, frac_den: int = 200, floor: int = 20
) -> int:
    """nprobe that HOLDS recall across corpus scale under the √N cell
    rule: probe a constant FRACTION of the cells (default 9/200 =
    4.5%, the fraction the registered sf10 economy config probes).

    Third-decade measurement (r14, sf100 = 2M clustered vectors,
    1414 cells, 64-query md5-stratified sample vs exact brute):
    recall@10 at CONSTANT nprobe=20 decays with scale — 0.548 (sf1) →
    0.438 (sf10) → 0.125 (sf100) — because the probed cell fraction
    shrinks as nprobe/√N. At constant FRACTION it is scale-stable:
    4.5% of cells reads 0.438 at BOTH sf10 (nprobe 20) and sf100
    (nprobe 63) with the registered 1-iteration build, and 0.906 at
    sf100 with a 3-iteration k-means build (iters is the other knob:
    at 1414 cells the 1-pass stride-seeded centroids are noisy, which
    the 44-cell fixture never exposed). Full grid in SCALE.md.

    The trade is explicit: constant fraction ⇒ probed mass
    ``(9/200)·N`` — linear, the price of constant recall on
    MODE-SATURATED data (the replica fixture holds 16 clusters at
    every scale, so new data adds density, not modes; a corpus whose
    mode count grows with N keeps recall at constant nprobe, which is
    why the registered economy row stays √N-sublinear). Integer rule
    (ceil division) so a SQL oracle reproduces it exactly."""
    return max(floor, -(-(frac_num * n_cells) // frac_den))


def n_coarse_cells(n_corpus: int, floor: int = 16) -> int:
    """√N coarse-cell sizing for the IVF index build (SCALE.md:
    production grows cells ~√N): ``cells = max(floor, isqrt(N))``, so
    per-cell occupancy is ~√N and per-query probed mass
    ``nprobe·√N`` stays SUBLINEAR in corpus size — the property that
    keeps the quality tier's read path inside budget at the second
    decade, where a fixed 16-cell grid scans ``nprobe/16`` of the
    whole corpus (ann9b/9c's sf10 timeout; the reference's read path
    exists precisely so nothing scans the corpus,
    ``docs/get_batch.md:574-577``). Pure integer rule (``math.isqrt``)
    so a SQL oracle reproduces it exactly with a corrected
    ``floor(sqrt(double))``."""
    import math

    return max(floor, math.isqrt(max(0, n_corpus)))


def kmeans_centroid_frame(means: DataFrame) -> DataFrame:
    """:func:`kmeans_train`'s long output ``(centroid_id, dim, mean_q,
    n_vecs)`` back to a ``(vec_id, embedding)`` centroid table on the
    1e4 fixed-point grid — ``mean_q / 1e4`` round-trips exactly
    through :func:`quantized` (double precision, |mean_q| << 2^49), so
    downstream IVF arithmetic sees the integer means bit-for-bit."""
    return (
        means.groupBy("centroid_id")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("dim"), F.col("mean_q")))
                ),
                lambda s: s["mean_q"].cast("double") / F.lit(float(QUANT)),
            ).alias("embedding")
        )
        .select(F.col("centroid_id").alias("vec_id"), "embedding")
    )


#: refine pair-frame size above which ivfpq_refine_topk's sized path
#: abandons the broadcast join for a plain shuffle join (r14): every
#: task materializes the broadcast as an in-memory hash relation, so
#: the cap is per-executor-memory-bound, not cluster-size-bound. 8M
#: id-pairs ≈ 128 MB raw — comfortably broadcastable; the next decade
#: (113M pairs at sf100) measurably is not.
REFINE_BROADCAST_CAP_PAIRS = 8_000_000


def refine_shortlist_size(
    n_corpus: int,
    n_cells: int,
    nprobe: int,
    k: int,
    frac_num: int = 1,
    frac_den: int = 5,
) -> int:
    """Production sizing rule for the IVF-PQ refine shortlist
    (SCALE.md, clustered measurement): a FIXED shortlist under-recalls
    on clustered corpora because PQ's ranking error concentrates
    inside dense cells — size it as a fraction (default 1/5) of the
    EXPECTED PROBED MASS ``nprobe * n_corpus / n_cells``, floored at
    ``4k``. Measured on the mixture fixture: sl = 6.7% of probed mass
    → recall 0.675; 17% → 1.000; 20% keeps margin above the knee.
    Pure integer arithmetic so a SQL oracle reproduces it exactly:
    ``greatest(4k, (frac_num*nprobe*n + D-1) // D)`` with
    ``D = frac_den * n_cells``."""
    den = frac_den * max(1, n_cells)
    return max(4 * k, -(-(frac_num * nprobe * n_corpus) // den))


def ivfpq_refine_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    m: int = 4,
    dim: int = 64,
    shortlist: int | None = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_corpus: int | None = None,
) -> DataFrame:
    """IVF-PQ with an exact-rerank refine stage — the QUALITY tier of
    the production ANN read path (FAISS ``IndexRefineFlat`` shape):
    the compressed index shortlists ``shortlist`` candidates per query
    by ADC, then ONLY those candidates' raw vectors are re-read and
    ranked by exact integer MIPS. PQ's ranking error (the recall
    ceiling of :func:`ivfpq_topk` at economy settings) is repaired by
    the refine, so recall ≈ IVF recall at the same nprobe.

    Scale shape: the ADC stage is :func:`ivfpq_topk` unchanged (corpus
    bytes move zero times); the refine joins the queries×shortlist
    frame (tiny, broadcast) against the corpus raw vectors — the
    corpus is scanned once more through a linear-bytes round-robin
    exchange (``_rebalance``, added r13: the refine scoring join must
    not inherit the scan's input splits on a clustered corpus — the
    sf10 task-skew probe read 440× without it, ~1× with it, mirroring
    the r11 fix in :func:`ivf_topk`), and only shortlisted rows
    survive the join to be scored.

    ``shortlist=None`` sizes the shortlist by the production rule
    :func:`refine_shortlist_size` from the corpus and centroid counts
    (one corpus count job unless *n_corpus* is given; the centroids
    are collected anyway) — use this on clustered corpora, where any
    fixed constant under-shortlists the dense cells.

    Third-decade lesson (r14, sf100): under the sized rule the pair
    frame grows as queries × shortlist ≈ queries·√N — 3.6M rows at
    sf10 but 113M at sf100 (2M vectors, 20k queries, shortlist 5658).
    Force-broadcasting that frame makes EVERY task build a
    hundred-million-row hash relation: the first sf100 attempt sat
    >35 min in GC before it was killed. The sized path therefore
    switches to a plain shuffle join once the pair count crosses
    ``REFINE_BROADCAST_CAP_PAIRS`` — corpus and pairs both hash on
    neighbor_id (linear bytes each), which is exactly the plan a
    1000-executor cluster wants at that size anyway. The cap applies
    to EXPLICIT-shortlist callers too (ADVICE-r14: a caller passing
    the 5658 value the sized rule produces at sf100 must not re-create
    the >35-min GC-death broadcast) — the query count is the length of
    the query matrix the ADC LUT path already collects to the driver, so
    the check costs no job.

    Like :func:`ivfpq_topk`, construction collects centroids, codebook
    and queries exactly once each.
    """
    cents = _collect_cents(centroids.select(id_col, quantized(vec_col)))
    if shortlist is None:
        # ``n_corpus`` lets a caller that already knows the corpus
        # cardinality (e.g. it materialized the pinned corpus with a
        # count) skip one sequential driver job here (r17, the
        # verdict-r16 ann9d/e job-chain item); the value must equal
        # corpus.count() — the sizing rule, and so the result, is
        # identical either way.
        shortlist = refine_shortlist_size(
            corpus.count() if n_corpus is None else n_corpus,
            len(cents[0]),
            nprobe,
            k,
        )
    # one materialization shared by the driver query collect (which
    # also gives the cap-check count), the probe assignment and the
    # refine q-vector frame (ADVICE-r15: the cap check used to
    # recompute the caller's derived query frame from scratch). Query
    # frames are bounded (the ANN query set), so the pinned partitions
    # are small. LAZY: the collect materializes it in the same job.
    queries = queries.localCheckpoint(eager=False)
    qs = _collect_cents(queries.select(id_col, quantized(vec_col)))
    n_queries = len(qs[0])
    adc = _ivfpq_adc(
        corpus, queries, cents,
        _collect_cents(codebook.select(id_col, quantized(vec_col))),
        qs, shortlist, nprobe, m, dim, id_col, vec_col,
    ).select("query_id", "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"), quantized(vec_col).alias("qv")
    )
    v = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantized(vec_col).alias("nv")
    )
    # join ORDER matters for the broadcast payload: the shortlist is
    # (queries x shortlist) PAIRS — attaching the 512-byte query vector
    # to each pair before broadcasting multiplies the payload by the
    # vector width (10 GB at sf10 under the sized rule). Broadcast the
    # bare id-pair frame against the corpus first, then attach query
    # vectors from the tiny per-query frame.
    # round-robin the corpus scan before the refine scoring join: the
    # join inherits the scan's input splits, and on a clustered corpus
    # the shortlisted rows concentrate — the r13 sf10 task-skew probe
    # read this stage at 440x (one 50 s task, twelve at ~100 ms) before
    # the exchange and ~1x after, same straggler class the r11 fixes
    # killed in ivf_topk/pq_adc
    big_pairs = n_queries * shortlist > REFINE_BROADCAST_CAP_PAIRS
    pair_join = adc if big_pairs else F.broadcast(adc)
    scored = (
        _rebalance(v)
        .join(pair_join, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            int_dot(F.col("qv"), F.col("nv")).alias("dot"),
        )
    )
    return _ranked(scored, "dot", k)


def semantic_cell_pairs(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, re-expressed
    fresh): assign every vector to its max-inner-product centroid cell
    (broadcast — the corpus never shuffles for assignment), then find
    near-duplicate pairs WITHIN each cell with one numpy matmul per
    cell. Pairs crossing cells are intentionally out of scope — the
    SemDeDup premise is that semantic duplicates co-cluster, which is
    what turns the O(N²) all-pairs problem into Σ O(|cell|²).

    Returns ``(centroid_id, vec_a, vec_b, dot)`` with ``vec_a < vec_b``
    and exact fixed-point integer dots (bit-identical to the per-pair
    formulation).

    Scale shape: ONE shuffle keys vectors by ``centroid_id``; per-task
    memory is a cell's int64 matrix. Cell count is the knob: pick
    k ~ sqrt(N) (k-means refined via :func:`kmeans_step`) so cells stay
    executor-sized; skewed cells split the same way LSH hot buckets do.
    """
    # one pass: _cells(nprobe=1) assigns each vector in one Arrow map
    # (no window over the vector x centroid product) and carries the
    # quantized vector along — no re-quantize, no second corpus join
    cents = _collect_cents(centroids.select(id_col, quantized(vec_col)))
    cells = _cells(corpus, cents, "vec_id", 1, id_col, vec_col).withColumnRenamed(
        "vq", "q"
    )

    def pairs(cell, ids, vecs):
        ids, M = np.array(ids, dtype=np.int64), np.array(vecs, dtype=np.int64)
        G = M @ M.T
        ii, jj = np.nonzero(np.triu(G >= threshold, k=1))
        return zip(
            [cell[0]] * len(ii), ids[ii].tolist(), ids[jj].tolist(),
            G[ii, jj].tolist(),
        )

    return map_groups(
        cells, "centroid_id", ["vec_id"], ["centroid_id", "vec_id", "q"],
        "centroid_id bigint, " + _PAIR_SCHEMA, pairs,
    )


def pq_train(
    corpus: DataFrame,
    codebook0: DataFrame,
    m: int = 4,
    dim: int = 64,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ codebook TRAINING: per-subspace k-means with exact integer L2
    assignment (ties → lower code, matching :func:`pq_encode`) and
    floor-div integer means — completing the index-build story next to
    :func:`kmeans_train` (IVF coarse quantizer): together they produce
    every learned component of the IVF-PQ read path (ann9/ann9b) from
    data alone.

    The codebook is held as one (m, code, cw16) frame — all ``m``
    subspace books train in the SAME plan per pass, not m driver
    loops. Seed = ``codebook0``'s vectors sliced per subspace.

    Returns the final pass's long form ``(m, code, dim, mean_q,
    n_vecs)`` with ``dim`` 1..dim/m within the subspace.

    Scale shape per pass: the codebook (m×k rows of 16 ints) is a
    literal of the pass's closure, so plan depth stays constant; each
    partition assigns its vectors in one numpy kernel and emits partial
    integer (sum, count) rows per (m, code, dim); means are one
    (m, code, dim) agg over those partials. The corpus never shuffles.
    """
    from aistore_spark.util import pin, spread

    sub = dim // m
    # Each pass runs ONE numpy kernel per partition — blocked
    # |a|²+|b|²−2a·b per subspace, argmin over the code axis — and
    # emits PARTIAL integer (sum, count) rows per (m, code, dim): k×dim
    # short rows per partition instead of N×k scored rows, so the means
    # agg shuffles a constant regardless of corpus size. Exact values:
    # operands are fixed-point ints |q| ≤ 1e4, every squared diff
    # (≤ 4e8) and sub-dim sum (≤ 6.4e9) is exact in float64; codeword
    # rows are sorted by code id and numpy argmin takes the FIRST
    # minimum, so ties break to the lower code exactly like
    # min(struct(dist, code)); the final mean is `sum(partial sums)
    # div sum(partial counts)`, the cell's total sum and count.
    cids0, cmat0 = _collect_cents(
        codebook0.select(
            F.col(id_col).alias("code"), quantized(vec_col).alias("cbvec")
        )
    )
    csub0 = cmat0.reshape(len(cids0), m, sub)
    # per-subspace books: (code ids sorted asc, codeword matrix) — the
    # surviving code set may diverge per subspace after a pass
    books = [
        (cids0.astype(np.int64), csub0[:, j, :].astype(np.float64))
        for j in range(m)
    ]

    # pinned: every pass re-reads the quantized corpus (iters-1 driver
    # collects + the final lazy pass)
    v = pin(
        spread(corpus).select(
            F.col(id_col).alias("vec"), quantized(vec_col).alias("vq")
        )
    )

    def pass_partials(books) -> DataFrame:
        ids_list = [b[0] for b in books]
        mats = [b[1] for b in books]

        def run(batches):
            sums = [np.zeros((len(ids_list[j]), sub), np.int64) for j in range(m)]
            cnts = [np.zeros(len(ids_list[j]), np.int64) for j in range(m)]
            for (vq,) in batches:
                vecs = vq.reshape(len(vq), m, sub)
                for j in range(m):
                    vj = vecs[:, j, :]
                    best, _ = _nearest_code(vj.astype(np.float64), mats[j])
                    np.add.at(sums[j], best, vj)
                    np.add.at(cnts[j], best, 1)
            # one partial row per (subspace, live code, dim)
            parts = []
            for j in range(m):
                live = np.nonzero(cnts[j])[0]
                parts.append((
                    np.full(len(live) * sub, j, dtype=np.int32),
                    np.repeat(ids_list[j][live], sub),
                    np.tile(np.arange(1, sub + 1), len(live)),
                    sums[j][live].reshape(-1),
                    np.repeat(cnts[j][live], sub),
                ))
            yield tuple(np.concatenate(c) for c in zip(*parts))

        partials = map_arrays(
            v, ["vq"],
            "m int, code bigint, dim bigint, sum_q bigint, n bigint", run,
        )
        return (
            partials.groupBy("m", "code", "dim")
            .agg(
                F.expr("sum(sum_q) div sum(n)").alias("mean_q"),
                F.sum("n").cast("bigint").alias("n_vecs"),
            )
            .select("m", "code", "dim", "mean_q", "n_vecs")
        )

    out = None
    n_iters = max(1, iters)
    for i in range(n_iters):
        out = pass_partials(books)
        if i < n_iters - 1:
            # next pass's books from this pass's means — a (m×k×sub)-
            # row driver collect, the kmeans_train pattern (replaces
            # the collect_list + localCheckpoint codebook frame)
            by_mc: dict[tuple[int, int], dict[int, int]] = {}
            for r in out.select("m", "code", "dim", "mean_q").collect():
                by_mc.setdefault((r[0], r[1]), {})[r[2]] = r[3]
            books = []
            for j in range(m):
                codes_j = sorted(c for (mj, c) in by_mc if mj == j)
                mat = np.array(
                    [
                        [by_mc[(j, c)][d] for d in range(1, sub + 1)]
                        for c in codes_j
                    ],
                    dtype=np.float64,
                ).reshape(len(codes_j), sub)
                books.append((np.array(codes_j, dtype=np.int64), mat))
    return out
