"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (SQL-expressible, oracle-
checked); the LSH-bucketed variant is the 100 TB scale path — random
hyperplane signatures turn the all-pairs problem into per-bucket joins,
the same banding pattern as MinHash dedup.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from dup_ocropy_spark.operators.registry import register, table

N_QUERIES = 5
TOP_K = 5


def _cosine(a, b):
    """JVM-side cosine over two array<float> columns: zip_with dot products,
    aggregate squared norms — no Python."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    return dot / (na * nb)


def _l2norm(col):
    """round(sqrt(sum x^2), 4) over an array<float> column, JVM-side."""
    return F.round(F.sqrt(F.aggregate(
        col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))), 4)


# DuckDB twin of _l2norm, interpolated into the oracle below.
_NORM_SQL = "round(sqrt(list_sum(list_transform({col}, x -> CAST(x AS DOUBLE) * x))), 4)"


@register(
    "ann_cosine_topk",
    sql=f"""
    SELECT query_id, vec_id, cos, v_l2norm, dim FROM (
      SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(v.embedding AS DOUBLE[])), 4) AS cos,
             {_NORM_SQL.format(col="v.embedding")} AS v_l2norm,
             len(v.embedding) AS dim,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                     CAST(v.embedding AS DOUBLE[])), 4)
                        DESC, v.vec_id) AS rk
      FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
      CROSS JOIN embeddings v
      WHERE q.vec_id <> v.vec_id
    ) WHERE rk <= {TOP_K}
    """,
    doc="brute-force cosine top-k: broadcast queries x scan corpus; the "
        "exact baseline for ANN. embed_norms is FOLDED in (registry "
        "folding policy, PLANS.md): each hit row carries the corpus "
        "vector's L2 norm (the rerank's denominator) + dim, so the "
        "oracle still checks the norm aggregate per row",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(table(spark, sf_dir, "embeddings"), with_norms=True)


def cosine_topk(e: DataFrame, n_queries: int = N_QUERIES,
                top_k: int = TOP_K, with_norms: bool = False) -> DataFrame:
    q = (e.where(F.col("vec_id") < n_queries)
         .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")))
    j = F.broadcast(q).crossJoin(e.select("vec_id", "embedding"))
    j = j.where(F.col("query_id") != F.col("vec_id"))
    cos = F.round(_cosine(F.col("qe"), F.col("embedding")), 4)
    extra = ([_l2norm(F.col("embedding")).alias("v_l2norm"),
              F.size("embedding").alias("dim")] if with_norms else [])
    scored = j.select("query_id", "vec_id", cos.alias("cos"), *extra)
    rk = F.row_number().over(W.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id"))
    return scored.withColumn("rk", rk).where(F.col("rk") <= top_k).drop("rk")


# ---------------------------------------------------------------------------
# The projection kernel: embedding x a small literal matrix (LSH planes,
# IVF centroids). One implementation for every caller: a mapInArrow stage
# for the Spark paths, the same numpy helper for both quantizer trainers.
# ---------------------------------------------------------------------------

# Rows per gemm. Every dot is taken inside a zero-padded block of exactly
# this many rows, so a row's dots are the same bits in whatever batch it
# arrives (a whole-batch X @ M.T is not: BLAS picks its kernel by shape).
_BLOCK = 64


def _block_dots(X: np.ndarray, M: np.ndarray, reduce) -> np.ndarray:
    """``reduce(X @ M.T)``, one fixed ``_BLOCK``-row zero-padded block at a
    time. ``reduce`` gets each block's own dots (free to overwrite), so
    the whole product is never held (32k cells x 10k rows: 2.5 GB)."""
    mt = np.ascontiguousarray(M.T, dtype=np.float64)
    pad = np.zeros((_BLOCK, X.shape[1]))
    out = [reduce(np.zeros((0, len(M))))]  # an empty X keeps reduce's shape
    for s in range(0, len(X), _BLOCK):
        blk = X[s:s + _BLOCK]
        pad[:len(blk)] = blk
        pad[len(blk):] = 0.0
        out.append(reduce((pad @ mt)[:len(blk)]))
    return np.concatenate(out)


def _top(m: int):
    """Reducer: each row's ``m`` cells by descending dot, ties to the
    smaller cell id, as ``m`` rounds of ``argmax`` (the first maximum)
    that mask the cell taken: m*k per row (a sort is ~10x the gemm at 32k)."""
    def top(d):
        out = np.empty((len(d), m), dtype=np.int64)
        for i in range(m):
            out[:, i] = d.argmax(axis=1)
            d[np.arange(len(d)), out[:, i]] = -np.inf
        return out
    return top


def _embedding_matrix(col: pa.Array, width: int) -> tuple[np.ndarray, np.ndarray]:
    """(rows, X): the rows of a list<float> column that hold ``width``
    finite values, and those rows as an (n, width) float64 matrix read
    from the flattened values (no per-row conversion). A null embedding,
    another width, or a null/NaN/inf element leaves the row out."""
    widths = pc.list_value_length(col).fill_null(0).to_numpy()
    rows = np.flatnonzero(widths == width)
    X = (pc.list_flatten(col.take(rows)).to_numpy(zero_copy_only=False)
         .astype(np.float64).reshape(len(rows), width))
    ok = np.isfinite(X).all(axis=1)
    return rows[ok], X[ok]


def _project(col: pa.Array, matrix, reduce, m: int) -> pa.ListArray:
    """The kernel over one batch's embedding column: the rows of each
    width ``d`` meet ``matrix(d)`` through ``_block_dots``; ``m`` ints per
    row, null where ``_embedding_matrix`` leaves it out or ``matrix(d)``
    is None."""
    out = np.zeros((len(col), m), dtype=np.int32)
    valid = np.zeros(len(col), dtype=bool)
    widths = pc.list_value_length(col).fill_null(0).to_numpy()
    for d in np.unique(widths[widths > 0]).tolist():
        M = matrix(d)
        if M is not None:
            rows, X = _embedding_matrix(col, d)
            out[rows] = _block_dots(X, M, reduce)
            valid[rows] = True
    offsets = np.concatenate([[0], np.cumsum(valid * m)]).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(out[valid].reshape(-1)),
                                    mask=pa.array(~valid))


def _projection_stage(emb: DataFrame, name: str, matrix, reduce, m: int) -> DataFrame:
    """(vec_id, embedding, ``name`` array<int>): ``_project`` over each
    Arrow batch's embedding column, in one mapInArrow."""
    t = {f.name: f.dataType.simpleString() for f in emb.schema.fields}
    schema = f"vec_id {t['vec_id']}, embedding {t['embedding']}, {name} array<int>"

    def stage(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), _project(b.column(1), matrix, reduce, m)],
                names=["vec_id", "embedding", name])

    return emb.select("vec_id", "embedding").mapInArrow(stage, schema)


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path; rows-only — hyperplanes are engine-internal)
# ---------------------------------------------------------------------------

# L independent tables of P random hyperplanes each (Indyk-Motwani LSH,
# sign-random-projection family: per-plane collision prob = 1 - theta/pi).
# One 12-plane table collided on <10% of true neighbors on the test corpus;
# 6 tables x 6 planes puts recall of cos>=0.8 neighbors above 0.9 while the
# per-table keyspace (2^6 buckets x L tables) still keeps every bucket join
# local. tests/test_recall_gates.py pins the measured floor.
N_TABLES = 6
PLANES_PER_TABLE = 6
LSH_SEED = 42


def _hyperplanes(dim: int) -> np.ndarray:
    """The (N_TABLES * PLANES_PER_TABLE, dim) planes for one width: seeded,
    so every batch and every worker projects a width on the same planes."""
    rng = np.random.default_rng(LSH_SEED)
    return rng.standard_normal((N_TABLES * PLANES_PER_TABLE, dim))


def _sign_buckets(dots: np.ndarray) -> np.ndarray:
    """Reducer: per row, N_TABLES buckets; plane p of a table sets bit p
    when the row's dot with it is >= 0."""
    signs = (dots >= 0).reshape(len(dots), N_TABLES, PLANES_PER_TABLE)
    return (signs * (1 << np.arange(PLANES_PER_TABLE))).sum(axis=2)


def lsh_bucket_ids(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, lsh_table, bucket) with one row per table: the
    sign pattern of the row's dots with the hyperplanes of its own width,
    from the projection kernel; the bucket array is exploded JVM-side. A
    null or unreadable embedding keeps one row with a null table and
    bucket, which joins nothing."""
    return (_projection_stage(emb, "buckets", _hyperplanes, _sign_buckets, N_TABLES)
            .select("vec_id", "embedding",
                    F.posexplode_outer("buckets").alias("lsh_table", "bucket")))


@register(
    "ann_lsh_topk",
    sql=None,
    doc="LSH-bucketed ANN: L=6 tables of 6-plane sign buckets -> per-"
        "(table,bucket) candidate join -> distinct -> exact cosine rerank "
        "(scale path: replaces the N x M cross join with bucket-local "
        "joins; recall vs ann_cosine_topk gated in tests)",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_topk(table(spark, sf_dir, "embeddings"))


def lsh_topk(e: DataFrame, n_queries: int = N_QUERIES,
             top_k: int = TOP_K) -> DataFrame:
    corpus = lsh_bucket_ids(e)
    q = (lsh_bucket_ids(e.where(F.col("vec_id") < n_queries))
         .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
                 F.col("lsh_table").alias("qt"), F.col("bucket").alias("qb")))
    # equal widths: each width has planes of its own, so a bucket id only
    # means the same region of space between rows of one width
    cand = (F.broadcast(q)  # bounded: N_QUERIES x N_TABLES rows
            .join(corpus, (F.col("qt") == F.col("lsh_table"))
                  & (F.col("qb") == F.col("bucket"))
                  & (F.size("qe") == F.size("embedding"))
                  & (F.col("query_id") != F.col("vec_id")))
            .select("query_id", "qe", "vec_id", "embedding")
            .dropDuplicates(["query_id", "vec_id"]))
    cos = F.round(_cosine(F.col("qe"), F.col("embedding")), 4)
    scored = cand.select("query_id", "vec_id", cos.alias("cos"))
    rk = F.row_number().over(W.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id"))
    return scored.select("query_id", "vec_id", "cos", rk.alias("rk")) \
                 .where(F.col("rk") <= top_k).drop("rk")


# ---------------------------------------------------------------------------
# IVF ANN (inverted-file index): the second scale path, complementary to
# sign-projection LSH. A coarse quantizer (k-means over a BOUNDED driver
# sample — the standard IVF training pattern) partitions the corpus into k
# cells; queries probe the nprobe nearest cells only. Assignment and the
# query probe are the projection kernel against the centroid matrix.
# Registered rows-only (ann_ivf_topk); recall gated in
# tests/test_recall_gates.py like the LSH paths.
# ---------------------------------------------------------------------------

IVF_K = 16
IVF_NPROBE = 3
IVF_SAMPLE = 1024
IVF_ITERS = 8
# cosine-denominator floor for the cell pair stage: the product of two
# floors (1e-300) is still a normal double, so a zero vector divides cleanly
_NORM_FLOOR = 1e-150


def ivf_train_centroids(emb, k: int = IVF_K, sample: int = IVF_SAMPLE,
                        iters: int = IVF_ITERS, seed: int = LSH_SEED) -> np.ndarray:
    """Seeded k-means quantizer. Two regimes (r6, VERDICT r5 'What's
    wrong' #1 — the old code silently capped the centroid count at the
    sample size, so sqrt(n) cells stopped scaling past n ~ 1M and the
    per-cell pair matmul went quadratic exactly where SemDeDup linearity
    was claimed):

    * ``k <= sample`` — bounded-driver-sample k-means, byte-identical to
      the pre-r6 path (collect capped at ``sample`` rows; this is
      quantizer TRAINING, not a data pass).
    * ``k > sample`` — distributed re-estimation
      (``_ivf_train_distributed``): deterministic hash-ordered init of
      exactly k centroids, then per-iteration Arrow-matmul assignment +
      per-cell mean, with only (k x dim) statistics ever reaching the
      driver. Guarantees ``len(C) == k`` or raises.

    The driver-path sample is the ``sample`` readable rows
    (``_trainable``) with smallest xxhash64(vec_id, seed): a
    deterministic uniform draw that is
    independent of the on-disk row order, unlike a bare ``limit()`` which
    takes the first partitions — on a sorted/clustered corpus that trains
    the quantizer on one region of the space and collapses cell balance
    (and is not even guaranteed deterministic across partitionings).
    orderBy+limit compiles to TakeOrdered (per-partition top-k, no global
    sort shuffle)."""
    if k > sample:
        return _ivf_train_distributed(emb, k, iters, seed)
    X = _sample_matrix(emb, seed, sample)
    if len(X) < k:
        # k <= sample here, so len(X) < k means the CORPUS has fewer
        # than k vectors: the old silent min(k, n)-centroid cap is loud
        # in both training regimes now (auto-derived k clamps to n in
        # _ivf_cell_count and never trips this)
        raise ValueError(
            f"IVF k={k} exceeds corpus size {len(X)}: cannot train that "
            f"many cells (pass an explicit smaller k)")
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(iters):
        assign = _block_dots(X, C, _top(1))[:, 0]  # unit vectors: max dot
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                C[j] = c / max(np.linalg.norm(c), 1e-12)
    return C


def _trainable(emb: DataFrame) -> DataFrame:
    """The rows the kernel can read: a non-empty embedding of finite
    elements. Trainers count and draw only these."""
    finite = F.forall("embedding", lambda x: x.isNotNull() & ~F.isnan(x)
                      & (F.abs(x) < float("inf")))
    return emb.select("vec_id", "embedding").where((F.size("embedding") > 0) & finite)


def _sample_matrix(emb: DataFrame, seed: int, n: int) -> np.ndarray:
    """The ``n`` trainable rows with smallest xxhash64(vec_id, seed), as an
    (n, dim) matrix at the draw's most common width. A draw that mixes
    widths is taken again among rows of that width, so n rows come back
    whenever the corpus holds them."""
    # vec_id tie-break: a hash collision at the limit boundary must
    # not make the sample partitioning-dependent (CLAUDE.md
    # invariant: every top-k orderBy ends in a unique column)
    rows = _trainable(emb).orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)), "vec_id")

    def draw(r):
        return r.limit(n).select("embedding").toArrow().column(0).combine_chunks()

    col = draw(rows)
    widths = pc.list_value_length(col).to_numpy()
    width = int(np.bincount(widths, minlength=1).argmax())
    if (widths != width).any():
        col = draw(rows.where(F.size("embedding") == width))
    return _embedding_matrix(col, width)[1]


def _ivf_train_distributed(emb, k: int, iters: int = IVF_ITERS,
                           seed: int = LSH_SEED) -> np.ndarray:
    """k-means re-estimation off the driver, for cell counts beyond any
    sane driver sample (k = sqrt(n) > 1024 ⇔ n > ~1M vectors).

    Init: the k rows with smallest xxhash64(vec_id, seed) — the same
    deterministic draw rule as the sampled path (``_sample_matrix``);
    raises if the corpus has fewer than k readable vectors (the old
    silent cap is now loud). Each
    iteration: one Arrow-batched matmul assignment pass over the corpus
    (``_block_dots`` per batch, as ``ivf_assign`` with m=1)
    emitting per-task per-cell partial sums (≤ k rows per task), merged
    JVM-side per cell (collect_list + element-wise zip_with aggregate —
    at most one vector per task per cell in each group), so only the
    (k x dim) statistics table ever reaches the driver (~16 MB at the
    docstring's 32k cells). Empty cells keep their previous centroid.

    Determinism note: assignment is batch-invariant, but the
    floating-point partial-sum merge order follows shuffle arrival, so
    centroids are reproducible only up to float-sum reassociation —
    acceptable for a >1M-vector quantizer (no declared query reaches this
    regime at driver scales; recall/occupancy are gated in tests, which
    tolerate ulp-level drift)."""
    C = _sample_matrix(emb, seed, k)
    if len(C) < k:
        raise ValueError(
            f"IVF k={k} exceeds corpus size {len(C)}: cannot train that "
            f"many cells (pass an explicit smaller k)")
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    dim = C.shape[1]
    sc = emb.sparkSession.sparkContext
    for _ in range(iters):
        bc = sc.broadcast(C)

        def partials(batches):
            Cb = bc.value
            sums = np.zeros_like(Cb)
            counts = np.zeros(len(Cb), dtype=np.int64)
            for b in batches:
                _, X = _embedding_matrix(b.column(0), dim)
                assign = _block_dots(X, Cb, _top(1))[:, 0]
                np.add.at(sums, assign, X)
                np.add.at(counts, assign, 1)
            hit = np.flatnonzero(counts)
            yield pa.RecordBatch.from_arrays(
                [pa.array(hit, pa.int32()), pa.array(counts[hit]),
                 pa.ListArray.from_arrays(pa.array(np.arange(len(hit) + 1, dtype=np.int32) * dim),
                                          pa.array(sums[hit].reshape(-1)))],
                names=["cell", "cnt", "vec"])

        stats = emb.select("embedding").mapInArrow(
            partials, schema="cell int, cnt long, vec array<double>")
        merged = (stats.groupBy("cell")
                  .agg(F.sum("cnt").alias("cnt"),
                       F.aggregate(F.collect_list("vec"),
                                   F.array_repeat(F.lit(0.0), dim),
                                   lambda acc, v: F.zip_with(
                                       acc, v, lambda a, b: a + b))
                       .alias("vec"))
                  .toPandas())
        bc.unpersist()
        C = C.copy()
        for cell, cnt, vec in zip(merged["cell"], merged["cnt"], merged["vec"]):
            c = np.asarray(vec, dtype=np.float64) / cnt
            C[int(cell)] = c / max(np.linalg.norm(c), 1e-12)
    assert len(C) == k
    return C


def ivf_assign(emb: DataFrame, centroids: np.ndarray, m: int = 1) -> DataFrame:
    """(vec_id, embedding, cell): one row per vector and each of its ``m``
    nearest cells by dot (descending, ties to the smaller cell id), from
    the projection kernel. ``m > 1`` is soft assignment: near-identical
    vectors have near-identical centroid dots, so a near-dup pair split
    across a cell boundary still shares one of its top-m cells with high
    probability — the standard boundary fix for cell-bucketed pairing.
    A vector whose embedding is null, holds a null/NaN/inf element or is
    not the centroids' width keeps one row with a null cell, which joins
    nothing."""
    C = np.asarray(centroids, dtype=np.float64)
    m = min(m, len(C))
    return (_projection_stage(emb, "cells", lambda d: C if d == C.shape[1] else None,
                              _top(m), m)
            .select("vec_id", "embedding", F.explode_outer("cells").alias("cell")))


@register(
    "ann_ivf_topk",
    sql=None,
    doc="IVF ANN: seeded k-means coarse quantizer trained on a bounded "
        "hash-ordered sample, cell assignment and the query probe by one "
        "batch-invariant Arrow matmul kernel, nprobe=3 "
        "cell-local candidate join, exact cosine rerank — the "
        "clustered-index scale path complementary to sign-projection "
        "LSH. Non-SQL (iterative quantizer training); recall vs the "
        "exact ann_cosine_topk twin gated in tests/test_recall_gates.py.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(spark, sf_dir)


def ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int = IVF_NPROBE) -> DataFrame:
    return ivf_topk_of(table(spark, sf_dir, "embeddings"), nprobe)


def ivf_topk_of(e: DataFrame, nprobe: int = IVF_NPROBE,
                n_queries: int = N_QUERIES, top_k: int = TOP_K) -> DataFrame:
    """Exact-rerank IVF ANN: queries probe their nprobe nearest cells."""
    C = ivf_train_centroids(e)
    q = (ivf_assign(e.where(F.col("vec_id") < n_queries), C, m=nprobe)
         .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "cell"))
    cand = (F.broadcast(q)  # bounded: N_QUERIES x nprobe rows
            .join(ivf_assign(e, C), "cell")
            .where(F.col("query_id") != F.col("vec_id")))
    cos = F.round(_cosine(F.col("qe"), F.col("embedding")), 4)
    scored = cand.select("query_id", "vec_id", cos.alias("cos"))
    rk = F.row_number().over(W.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id"))
    return scored.select("query_id", "vec_id", "cos", rk.alias("rk")) \
                 .where(F.col("rk") <= top_k).drop("rk")


def _ivf_cell_count(n_vecs: int, k: int | None) -> int:
    """Cell count for the pair-bucketing paths: explicit ``k`` wins;
    default scales as sqrt(n) (the SemDeDup regime — per-cell candidate
    count stays ~sqrt(n), so the per-cell pair work is ~n total instead
    of n^2/k with a fixed k; at 1e9 vectors that is ~32k cells, each a
    small local matmul), clamped to the corpus size so a degenerate
    tiny corpus keeps working (the trainer is loud for k > n; an
    auto-derived k must not trip that)."""
    if k is not None:
        return k
    return max(1, min(n_vecs, max(IVF_K, int(np.sqrt(n_vecs)))))


def _cell_pairs(assigned: DataFrame, threshold: float | None,
                local_top: int | None = None) -> DataFrame:
    """All (doc_a < doc_b, cos) pairs WITHIN each cell: one shuffle on
    cell id, then one vectorized X @ X.T per cell group (applyInPandas —
    the literal SemDeDup within-cluster similarity matmul). With
    sqrt(n) cells the expected group is ~sqrt(n) rows, so per-group work
    is ~n and total pair volume ~n * m^2. ``threshold`` filters inside
    the kernel so only true near-dup rows leave the Python worker. A row
    with a null cell (``ivf_assign``'s unreadable embeddings) never
    enters a group.

    Trade-off vs a cell equi-join: a join's skewed cell is
    AQE-splittable, while a pathological quantizer cell here becomes one
    straggler task — accepted because the quantizer is trained on the
    corpus itself (cells are balanced by construction) and the join form
    pays k*dim interpreted HOF ops per candidate pair (measured 3-4x the
    whole query's wall at sf0.1)."""
    id_t = dict((f.name, f.dataType.simpleString())
                for f in assigned.schema.fields)["vec_id"]

    def pairs(_, pdf):
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"doc_a": [], "doc_b": [], "cos": []})
        X = np.asarray([np.asarray(v, dtype=np.float64)
                        for v in pdf["embedding"]])
        # floored norm: a zero vector scores cos 0 instead of 0/0 = NaN,
        # which would sort above every real cos in the np.partition prune
        # below and drop the cell's pairs; real norms sit far above it
        nr = np.maximum(np.sqrt((X * X).sum(axis=1)), _NORM_FLOOR)
        cos = (X @ X.T) / np.outer(nr, nr)
        iu, ju = np.triu_indices(n, k=1)
        ids = pdf["vec_id"].to_numpy()
        out = pd.DataFrame({"doc_a": ids[iu], "doc_b": ids[ju],
                            "cos": cos[iu, ju]})
        if threshold is not None:
            # margin pre-filter only: the EXACT cut happens JVM-side on
            # the HALF_UP-rounded value below; the margin keeps every row
            # that could still round up across the threshold
            out = out[out["cos"] >= threshold - 1e-4]
        if local_top is not None and len(out) > local_top:
            # per-cell top-k prune BY VALUE, ties kept (r6): a global
            # top-``local_top`` pair must rank within its own cell's top
            # ``local_top`` BY COS — pairs are unique within a cell, so a
            # pair below the cell's local_top-th cos value has that many
            # distinct pairs strictly above it globally too. The margin
            # covers a full 4-dp rounding bucket (1e-4, plus FP slack):
            # downstream ranking is on the JVM HALF_UP-rounded value, and
            # a row under the unrounded cutoff can still TIE the cutoff
            # rows after rounding (then win on the doc-id tie-break) — only
            # rows a whole bucket below are provably outranked by
            # local_top distinct pairs. Shrinks the rows leaving Python
            # from O(cell^2) to ~local_top per cell; the exact global
            # dedup + top-k runs downstream on that superset.
            v = np.partition(out["cos"].to_numpy(), -local_top)[-local_top]
            out = out[out["cos"] >= v - 1.5e-4]
        return out

    raw = assigned.where(F.col("cell").isNotNull()).groupBy("cell").applyInPandas(
        pairs, f"doc_a {id_t}, doc_b {id_t}, cos double")
    # rounding moved JVM-side (r6, ADVICE r5): the kernel's np.round is
    # HALF_EVEN while the exact-baseline path (_cosine + F.round) and the
    # DuckDB twins round HALF_UP — a cosine landing exactly on a 5e-5
    # boundary differed between the bucketed and exact paths. F.round here
    # makes both paths share one rounding authority (and still collapses
    # gemm ulp noise before the downstream distinct/dropDuplicates).
    out = raw.select("doc_a", "doc_b", F.round("cos", 4).alias("cos"))
    if threshold is not None:
        out = out.where(F.col("cos") >= threshold)
    return out


def embedding_neardup_pairs(e: DataFrame, threshold: float = 0.9,
                            m_assign: int = 2, k: int | None = None) -> DataFrame:
    """Corpus-scale semantic near-dup PAIRS: (doc_a, doc_b, cos >=
    threshold) via IVF cell-local joins — the bucketed path that replaces
    ``dedup_embedding_cosine``'s exact all-pairs baseline at scale
    (SemDeDup-style: Abbas et al. 2023 dedup within k-means clusters).

    Shape: quantizer trained on a seeded bounded sample; every vector
    soft-assigned to its ``m_assign`` nearest cells (one Arrow-batched
    matmul); sqrt(n) cells by default so per-cell candidate sets stay
    ~sqrt(n); the pair stage is one shuffle on cell id + one vectorized
    X @ X.T per cell (``_cell_pairs``), never across the whole corpus,
    with the threshold applied inside the kernel so only near-dup rows
    leave the worker. Every emitted pair's cosine is computed exactly,
    so precision is 1.0 by construction; recall is gated in tests (a
    near-dup pair is missed only when the two vectors share none of
    their top-m cells). Feeds ``dedup.dedup_clusters`` for transitive
    closure like the text-based pair sources."""
    k = _ivf_cell_count(_trainable(e).count(), k)
    C = ivf_train_centroids(e, k=k)
    return (_cell_pairs(ivf_assign(e, C, m_assign), threshold=threshold)
            .distinct())  # a pair may co-occur in up to m_assign cells


# embed_norms is registered inside ann_cosine_topk (v_l2norm/dim columns)
# — the norms are the cosine rerank's denominators, so the folded oracle
# still checks the aggregate per hit row. The freed driver slot went to
# dedup_semantic_topk below (registry folding policy, PLANS.md).


@register(
    "dedup_semantic_topk",
    sql=None,
    doc="SemDeDup-shaped semantic near-dup, bucketed: IVF quantizer "
        "(seeded k-means on a bounded hash-ordered sample; distributed "
        "re-estimation past k=1024), every vector soft-assigned to its 2 "
        "nearest cells (the batch-invariant Arrow matmul kernel), pair join "
        "runs PER CELL — never all-pairs — then global top-25 nearest "
        "pairs by exact cosine with the (doc_a, doc_b) tie-break. Top-k "
        "rather than a threshold cut so the driver always checks real "
        "pairs (the random driver corpus has zero pairs at cos>=0.8, and "
        "two engines agreeing on 0 rows verifies nothing). Non-SQL "
        "(iterative quantizer); candidate recall vs the exact "
        "dedup_embedding_cosine twin is gated in tests.",
)
def dedup_semantic_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_topk_pairs(table(spark, sf_dir, "embeddings"))


def semantic_topk_pairs(e: DataFrame, m_assign: int = 2,
                        k: int | None = None, top_n: int = 25) -> DataFrame:
    """Top-``top_n`` nearest pairs among IVF-cell-local candidates: the
    driver-visible face of ``embedding_neardup_pairs`` (same quantizer,
    same soft assignment, same cell-local join), with the thresholded
    emit replaced by a global TakeOrderedAndProject so the output is
    non-empty on corpora with no true near-dups.

    ``k=None`` scales the cell count as sqrt(n) (``_ivf_cell_count``),
    keeping the per-cell pair join ~linear in corpus size."""
    k = _ivf_cell_count(_trainable(e).count(), k)
    C = ivf_train_centroids(e, k=k)
    return (_cell_pairs(ivf_assign(e, C, m_assign), threshold=None,
                        local_top=top_n)
            # a pair may co-occur in up to m_assign cells with the SAME
            # cos: dedup before ranking or top-k emits duplicate rows
            .dropDuplicates(["doc_a", "doc_b"])
            .orderBy(F.desc("cos"), "doc_a", "doc_b").limit(top_n))
