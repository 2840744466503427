"""The embedding-projection kernel (``operators/similarity``): every
embedding x literal-matrix product — LSH sign buckets, IVF cell
assignment and probing, both quantizer trainers — goes through
``_block_dots``. Its dots must not depend on how rows fall into Arrow
batches, must equal the JVM's sequential-over-dim sum at dim 64, and an
unreadable embedding (null, NaN or inf element; for IVF also another
width than the centroids') must get a null cell or bucket on every path
instead of failing or pooling."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dup_ocropy_spark.operators.similarity import (
    _block_dots, embedding_neardup_pairs, ivf_assign, ivf_topk_of,
    ivf_train_centroids, lsh_bucket_ids, lsh_topk, semantic_topk_pairs,
)

SEED = 7
N = 300
DIM = 64
# 3 is one of the N_QUERIES query rows; 51, 154 and 169 hold the three
# smallest xxhash64(vec_id, 42), so every quantizer sample draws them first
NULL_ID, NARROW_ID, NAN_ID, INF_ID = 3, 51, 154, 169


def _identity(d):
    return d


def test_block_dots_equal_sequential_sum_at_dim_64():
    """At dim 64 the blocked gemm is bit-for-bit the left-to-right sum
    ``acc + x*y`` the JVM's aggregate(zip_with) took."""
    rng = np.random.default_rng(SEED)
    X = rng.standard_normal((1000, DIM)).astype(np.float32).astype(np.float64)
    M = rng.standard_normal((44, DIM))
    ref = np.zeros((len(X), len(M)))
    for j in range(DIM):
        ref = ref + X[:, j:j + 1] * M[:, j]
    np.testing.assert_array_equal(_block_dots(X, M, _identity), ref)


@pytest.mark.parametrize("k", [16, 1000])
def test_block_dots_independent_of_batch_split(k):
    """Whatever batches the rows arrive in (1, 7 or 4096 rows, or ragged
    random splits), each row's dots are the same bits."""
    rng = np.random.default_rng(SEED)
    X = rng.standard_normal((4099, DIM))
    M = rng.standard_normal((k, DIM))
    whole = _block_dots(X, M, _identity)
    ragged = np.cumsum(rng.integers(1, 300, size=40))
    for cuts in (range(1, len(X)), range(7, len(X), 7), [4096], ragged[ragged < len(X)]):
        split = np.concatenate([_block_dots(part, M, _identity)
                                for part in np.split(X, list(cuts))])
        np.testing.assert_array_equal(split, whole)


@pytest.fixture(scope="module")
def emb(spark, tmp_path_factory):
    """N vectors with four unreadable rows: a null embedding (a query
    row), one 63 wide, one holding a NaN and one holding an inf."""
    rng = np.random.default_rng(SEED)
    X = rng.standard_normal((N, DIM))
    rows = [list(map(float, r)) for r in X]
    rows[NULL_ID] = None
    rows[NARROW_ID] = rows[NARROW_ID][:-1]
    rows[NAN_ID][5] = float("nan")
    rows[INF_ID][9] = float("inf")
    d = tmp_path_factory.mktemp("kernel_emb")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(N), pa.int64()),
        "embedding": pa.array(rows, pa.list_(pa.float32()))}), d / "embeddings.parquet")
    return spark.read.parquet(f"{d}/embeddings.parquet")


def test_cells_and_buckets_do_not_depend_on_batch_size(spark, emb):
    C = ivf_train_centroids(emb)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    got = []
    try:
        for size in (1, 7, 4096):
            spark.conf.set(key, str(size))
            cells = sorted((r.vec_id, r.cell if r.cell is not None else -1) for r in
                           ivf_assign(emb, C, m=3).select("vec_id", "cell").collect())
            buckets = sorted((r.vec_id, r.lsh_table, r.bucket) for r in
                             lsh_bucket_ids(emb).select("vec_id", "lsh_table", "bucket")
                             .collect() if r.bucket is not None)
            got.append((cells, buckets))
    finally:
        spark.conf.set(key, old)
    assert got[0] == got[1] == got[2]
    assert len(got[0][1]) == (N - 3) * 6  # every bucketed row, six tables


def test_unreadable_embeddings_get_a_null_cell_on_every_path(spark, emb):
    bad = {NULL_ID, NARROW_ID, NAN_ID, INF_ID}
    lowest = [r.vec_id for r in emb.orderBy(F.xxhash64("vec_id", F.lit(42)), "vec_id")
              .where(F.col("vec_id") != NULL_ID).limit(3).collect()]
    assert set(lowest) == bad - {NULL_ID}  # the draws below meet them first
    C = ivf_train_centroids(emb)  # the sample holds all four: no raise
    assert np.isfinite(C).all()
    C_drv = ivf_train_centroids(emb, k=8, sample=8, iters=2)  # k == sample: driver
    C_dist = ivf_train_centroids(emb, k=20, sample=8, iters=2)  # k > sample: distributed
    assert C_drv.shape == (8, DIM) and C_dist.shape == (20, DIM)
    assert np.isfinite(C_drv).all() and np.isfinite(C_dist).all()

    cells = ivf_assign(emb, C, m=2).toPandas()
    assert set(cells["vec_id"]) == set(range(N))  # every row kept
    assert set(cells.loc[cells["cell"].isna(), "vec_id"]) == bad
    assert (cells.groupby("vec_id").size().drop(list(bad)) == 2).all()

    buckets = lsh_bucket_ids(emb).toPandas()
    assert set(buckets["vec_id"]) == set(range(N))
    # the 63-wide row is bucketed on the planes of its own width
    assert set(buckets.loc[buckets["bucket"].isna(), "vec_id"]) == bad - {NARROW_ID}

    for out in (ivf_topk_of(emb).toPandas(), lsh_topk(emb).toPandas()):
        assert set(out["query_id"]) == {0, 1, 2, 4}
        assert not bad & set(out["vec_id"])
    for out in (semantic_topk_pairs(emb).toPandas(),
                embedding_neardup_pairs(emb, threshold=0.0).toPandas()):
        assert len(out) and not bad & (set(out["doc_a"]) | set(out["doc_b"]))
