"""IVF build internals: the vectorized k-means kernel against the per-cluster
loop it replaced, covering radii taken from the encode pass against radii
read back from the written codes, and the job shape of an IVF_PQ build."""

import os
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _loop_kmeans(x, k, iters=12, seed=42):
    """The per-cluster Lloyd loop ``train_kmeans`` used before it was
    vectorized, kept verbatim as the reference."""
    rng = np.random.default_rng(seed)
    x = np.ascontiguousarray(x, dtype=np.float64)
    n = x.shape[0]
    k = min(k, n)
    # kmeans++ initialization
    centroids = np.empty((k, x.shape[1]), dtype=np.float64)
    centroids[0] = x[rng.integers(n)]
    d2 = np.full(n, np.inf)
    for i in range(1, k):
        d2 = np.minimum(d2, ((x - centroids[i - 1]) ** 2).sum(axis=1))
        s = float(d2.sum())
        if s <= 0:
            centroids[i] = x[rng.integers(n)]
        else:
            centroids[i] = x[rng.choice(n, p=d2 / s)]
    x2 = (x * x).sum(axis=1, keepdims=True)
    for _ in range(iters):
        dists = x2 - 2.0 * (x @ centroids.T) + (centroids * centroids).sum(axis=1)
        assign = dists.argmin(axis=1)
        for j in range(k):
            mask = assign == j
            if mask.any():
                centroids[j] = x[mask].mean(axis=0)
            else:  # re-seed empty cluster at the farthest point
                centroids[j] = x[dists.min(axis=1).argmax()]
    return centroids.astype(np.float32)


def _quant_error(x, cents):
    c = cents.astype(np.float64)
    d = (x * x).sum(1, keepdims=True) - 2.0 * (x @ c.T) + (c * c).sum(1)
    return float(np.maximum(d.min(axis=1), 0.0).mean())


def _kmeans_cases():
    rng = np.random.default_rng(11)
    # a PQ book's input: 256-way k-means on one residual sub-vector
    for width in (1, 2, 4, 8):
        yield pytest.param(rng.standard_normal((2000, width)), 256, 8, id=f"width{width}")
    # 4 distinct points, k = 16: the uniform-draw seeding branch
    yield pytest.param(np.tile(np.eye(4), (50, 1)), 16, 12, id="dupes")
    # 300 points on 3 integer values per axis: heavy exact ties, k > distinct
    yield pytest.param(rng.integers(0, 3, (300, 2)).astype(np.float64), 32, 8, id="ties")
    # 44 points on 23 distinct values, k = 32: Lloyd empties clusters
    # while points still sit off their centroids, so each re-seed lands on
    # the farthest point (99 re-seeds over the 12 iterations)
    yield pytest.param(
        np.round(np.random.default_rng(0).standard_normal((44, 1)), 1), 32, 12, id="empty"
    )
    yield pytest.param(rng.standard_normal((1500, 64)), 16, 12, id="ivf")


@pytest.mark.parametrize("x,k,iters", list(_kmeans_cases()))
def test_train_kmeans_matches_the_loop(x, k, iters):
    from lance_spark.indexes.vector import train_kmeans

    want = _loop_kmeans(x, k, iters=iters, seed=5)
    got = train_kmeans(x, k, iters=iters, seed=5)
    assert got.dtype == np.float32 and got.shape == want.shape
    if x.shape[1] < 8 or np.array_equal(got, want):
        # under 8 columns numpy sums a row in column order, as the kernel's
        # seeding does, so every distance and every draw is the loop's
        assert np.array_equal(got, want)
    else:
        # numpy's pairwise row sum may differ in the last bit, which can
        # only flip an exact tie; the clustering must then be as good
        assert _quant_error(x, got) <= _quant_error(x, want) * (1 + 1e-9)


def _codes_radii(spark, idx):
    from lance_spark.indexes.vector import compute_partition_radii

    r = np.zeros(idx.centroids.shape[0])
    for p in idx.codes_paths():
        r = np.maximum(
            r,
            compute_partition_radii(
                spark, p, idx.centroids, idx.metric == "cosine", packed=idx.packed
            ),
        )
    return r


@pytest.mark.parametrize("metric", ["l2", "cosine"])
@pytest.mark.parametrize("index_type", ["IVF_FLAT", "IVF_PQ", "IVF_SQ", "IVF_HNSW_PQ"])
def test_saved_radii_equal_the_written_codes(spark, emb, tmp_path, index_type, metric):
    from lance_spark.indexes.vector import IvfIndex, build_ivf, extend_ivf

    # several scan tasks, so the radii merge across tasks
    base = emb.filter(F.col("vec_id") < 400).repartition(3)
    idx = build_ivf(
        base, "embedding", "vec_id", str(tmp_path / "idx"), num_partitions=6,
        metric=metric, index_type=index_type, num_sub_vectors=8,
    )
    assert np.array_equal(IvfIndex(idx.uri).radii, _codes_radii(spark, idx))
    idx = extend_ivf(idx, spark, emb.filter(F.col("vec_id") >= 400), fragments=[1])
    assert len(idx.segments) == 2
    saved = np.load(idx.artifact_path("radii"))
    assert np.array_equal(saved, _codes_radii(spark, idx))


def test_extend_with_nothing_to_index_leaves_no_segment(spark, emb, tmp_path):
    from lance_spark.indexes.vector import IvfIndex, build_ivf, extend_ivf

    idx = build_ivf(
        emb, "embedding", "vec_id", str(tmp_path / "idx"), num_partitions=4,
        metric="l2", index_type="IVF_PQ", num_sub_vectors=8,
    )
    nulls = emb.limit(20).withColumn("embedding", F.lit(None).cast("array<float>"))
    out = extend_ivf(idx, spark, nulls, fragments=[1])
    assert out.segments == ["codes"]
    assert sorted(d for d in os.listdir(idx.uri) if d.startswith("codes")) == ["codes"]
    assert np.array_equal(IvfIndex(idx.uri).radii, idx.radii)


def test_radii_accumulators_do_not_pile_up(spark, emb, tmp_path):
    """PySpark's driver registry keeps an accumulator for the session's
    life unless dropped: builds and extends leave it as they found it, and
    an encode pass with no radii reader registers none. The last extend
    finds nothing to index (``vec_id`` stops at 499)."""
    from pyspark.accumulators import _accumulatorRegistry

    from lance_spark.indexes.vector import _assign_encode_df, build_ivf, extend_ivf

    before = len(_accumulatorRegistry)
    idx = build_ivf(
        emb.filter(F.col("vec_id") < 200), "embedding", "vec_id", str(tmp_path / "idx"),
        num_partitions=4, metric="l2", index_type="IVF_PQ", num_sub_vectors=8,
    )
    assert len(_accumulatorRegistry) == before
    for f, lo in enumerate((200, 300, 400, 500), start=1):
        part = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 100))
        idx = extend_ivf(idx, spark, part, fragments=[f])
        assert len(_accumulatorRegistry) == before
    assert len(idx.segments) == 4
    enc = _assign_encode_df(
        emb, "embedding", "vec_id", spark, idx.centroids, idx.codebooks, None, None, False
    )
    assert enc.count() > 0
    assert len(_accumulatorRegistry) == before


def test_ivf_pq_build_job_shape(spark, emb, tmp_path):
    """An IVF_PQ build is a count, a sample and the code write: no
    ``parallelize`` job for the books and no read-back for the radii."""
    from lance_spark.indexes.vector import build_ivf

    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        build_ivf(
            emb, "embedding", "vec_id", str(tmp_path / "idx"), num_partitions=4,
            metric="l2", index_type="IVF_PQ", num_sub_vectors=8,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    ids = tracker.getJobIdsForGroup(group)
    names = [
        tracker.getStageInfo(s).name
        for j in ids
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    ]
    assert len(ids) <= 5, names
    assert not [n for n in names if n.startswith("collect at") and "vector.py" in n], names
