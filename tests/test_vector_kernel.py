"""Pins for the shared numpy scoring kernel in indexes/vector.py: every
index path must apply the same NULL / zero-norm rules and the same PQ
lookup-table shape, so a corpus gets the same answer from each path."""

import numpy as np
import pytest


def _corpus(spark, n, dim, seed, zero_id=None):
    rng = np.random.default_rng(seed)
    rows = [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(n)]
    if zero_id is not None:
        rows.append((zero_id, [0.0] * dim))
    df = spark.createDataFrame(rows, "id long, v array<float>")
    return df, [float(x) for x in rng.standard_normal(dim)]


def test_ivf_hnsw_pq_narrow_codebook(spark, tmp_path):
    """120 training rows give codebooks narrower than 256 entries; the
    HNSW_PQ lookup table must follow the trained width instead of
    crashing at query time, and a full probe + full refine is exact."""
    from lance_spark.indexes.vector import ann_search, build_ivf
    from lance_spark.operators.knn import knn_bruteforce

    df, q = _corpus(spark, 120, 16, seed=7)
    idx = build_ivf(
        df, "v", "id", str(tmp_path / "hpq"), num_partitions=2, metric="l2",
        index_type="IVF_HNSW_PQ", num_sub_vectors=4,
    )
    assert idx.codebooks.shape[1] < 256
    got = ann_search(spark, idx, q, k=5, nprobes=2, refine_factor=24).collect()
    want = knn_bruteforce(df, "v", q, k=5, metric="l2", id_col="id").collect()
    assert [r["id"] for r in got] == [r["id"] for r in want]


def test_zero_vector_left_out_by_every_path(spark, tmp_path):
    """An all-zero vector has no cosine distance: range search, ANN (IVF
    and HNSW) and brute force must all leave it out, and agree on the
    rest of the corpus."""
    from lance_spark.indexes.vector import ann_search, build_ivf, distance_range_search
    from lance_spark.operators.knn import knn_bruteforce

    n, zero_id = 40, 999
    df, q = _corpus(spark, n, 8, seed=11, zero_id=zero_id)
    flat = build_ivf(
        df, "v", "id", str(tmp_path / "flat"), num_partitions=2, metric="cosine",
        index_type="IVF_FLAT",
    )
    hnsw = build_ivf(
        df, "v", "id", str(tmp_path / "hnsw"), num_partitions=2, metric="cosine",
        index_type="IVF_HNSW_FLAT",
    )
    results = {
        "range": distance_range_search(spark, flat, q, 0.0, 2.0).collect(),
        "ann": ann_search(spark, flat, q, k=n, nprobes=2).collect(),
        "hnsw": ann_search(spark, hnsw, q, k=n, nprobes=2, ef_search=n + 1).collect(),
        "brute": knn_bruteforce(df, "v", q, k=n, metric="cosine", id_col="id").collect(),
    }
    got = {
        path: {r["id"]: round(r["_distance"], 4) for r in rows}
        for path, rows in results.items()
    }
    for path, dists in got.items():
        assert zero_id not in dists, f"{path} scored the zero vector"
        assert dists == got["brute"], path
    assert len(got["brute"]) == n


def test_score_null_rules():
    """The kernel's NaN cases without Spark: NULL row, ragged row, wrong
    query length, zero-norm row and zero query under cosine."""
    from lance_spark.indexes.vector import _prep, _score

    x = _prep([[1.0, 0.0], None, [1.0, 0.0, 0.0], [0.0, 0.0]], cosine=True)
    d = _score(x, np.array([1.0, 0.0]), "cosine")
    assert d[0] == pytest.approx(0.0)
    assert np.isnan(d[1:]).all()
    assert np.isnan(_score(x, np.array([1.0, 0.0, 0.0]), "l2")).all()
    assert np.isnan(_score(x, np.zeros(2), "cosine")).all()
    assert _score(x, np.zeros(2), "l2")[3] == 0.0
