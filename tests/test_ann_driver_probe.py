"""Pins for the driver-side single-query IVF probe (``ann_search`` for
IVF_FLAT / IVF_PQ / IVF_SQ / IVF_RQ) and the one-query ``dataset_nearest``.

The reference here is a row-at-a-time re-statement of the search: codes
read through Spark (``IvfIndex.codes_df``), each row scored on its own
with the shared kernel primitives, candidates ranked by (NaN last,
distance, id), the first ``n_cand`` exact-refined, one slot per id. The
probe under test reads with pyarrow and scores a whole code matrix at
once, so the two share nothing but the kernels."""

import os
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

KINDS = [
    ("IVF_FLAT", "l2"), ("IVF_FLAT", "cosine"), ("IVF_FLAT", "dot"),
    ("IVF_PQ", "l2"), ("IVF_PQ", "cosine"), ("IVF_PQ", "dot"),
    ("IVF_SQ", "l2"), ("IVF_SQ", "cosine"), ("IVF_SQ", "dot"),
    ("IVF_RQ", "l2"), ("IVF_RQ", "cosine"),
]


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding", "label"
    )


@pytest.fixture(scope="module")
def queries(emb):
    rows = emb.orderBy("vec_id").limit(40).collect()
    return [[float(x) for x in rows[i]["embedding"]] for i in (3, 17, 31)]


def _row_score(index, row, q):
    """Approximate (or, for IVF_FLAT, exact) internal distance of one codes
    row, computed on its own."""
    from lance_spark.indexes.vector import _adc_table, _prep, _score

    metric, kind = index.metric, index.index_type
    cosine = metric == "cosine"
    if kind == "IVF_FLAT":
        return _score(_prep([row["vec"]], index.packed, cosine), q, metric)[0]
    code = np.asarray(row["pq_code"], dtype=np.int64)
    pid = row["partition_id"]
    if kind == "IVF_PQ":
        tbl = _adc_table(index.codebooks, index.centroids[pid], q, metric)
        return float(tbl[np.arange(len(code)), code].sum())
    if kind == "IVF_SQ":
        lo, span = (b.astype(np.float64) for b in index.sq_bounds)
        deq = lo + code.astype(np.float64) / 255.0 * span
        return _score(_prep(deq[None, :], cosine=cosine), q, metric)[0]
    dim = int(index.meta["dim"])
    tv = index.rotation.astype(np.float64) @ (q - index.centroids[pid].astype(np.float64))
    nt = float(np.sqrt((tv * tv).sum()))
    nx = float(row["rq_norm"])
    if nt < 1e-12:
        return nx**2
    sgn = 2.0 * np.unpackbits(code.astype(np.uint8))[:dim] - 1.0
    est = np.clip((sgn @ tv) / (np.sqrt(dim) * nt) / float(row["rq_corr"]), -1.0, 1.0)
    return nx**2 + nt**2 - 2.0 * nx * nt * est


def _key(d, i):
    return (bool(np.isnan(d)), 0.0 if np.isnan(d) else d, i)


def _reference(spark, index, query, k, nprobes, refine_factor, allowed=None, masked=()):
    from lance_spark.indexes.vector import (
        _finalize_distance, _prep, _query_prep, _score, probe_partitions,
    )

    q = _query_prep(index, query)
    probes = probe_partitions(index, query, nprobes)
    rows = [
        r for r in index.codes_df(spark).filter(F.col("partition_id").isin(probes)).collect()
        if (allowed is None or r["id"] in allowed) and r["id"] not in masked
    ]
    metric = index.metric
    scored = [(_row_score(index, r, q), r["id"]) for r in rows]
    if index.index_type == "IVF_FLAT":
        exact = [(float(_finalize_distance(np.array([d]), metric)[0]), i) for d, i in scored]
    else:
        n_cand = k * max(refine_factor, 1)
        cand = {i for _, i in sorted(scored, key=lambda t: _key(*t))[:n_cand]}
        exact = [
            (
                float(_finalize_distance(
                    _score(_prep([r["vec"]], index.packed, metric == "cosine"), q, metric),
                    metric,
                )[0]),
                r["id"],
            )
            for r in rows if r["id"] in cand
        ]
    out, seen = [], set()
    for d, i in sorted(exact, key=lambda t: _key(*t)):
        if i not in seen:
            seen.add(i)
            out.append((i, None if np.isnan(d) else d))
    return out[:k]


def _same(got, want):
    assert [i for i, _ in got] == [i for i, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert (a is None) == (b is None)
        if a is not None:
            assert a == pytest.approx(b, rel=1e-9, abs=1e-12)


@pytest.mark.parametrize("kind,metric", KINDS)
def test_driver_probe_equals_row_reference(spark, emb, queries, tmp_path, kind, metric):
    """Top-k ids and distances of the driver probe equal the row-at-a-time
    reference, with and without a prefilter, at several probe and refine
    widths."""
    from lance_spark.indexes.vector import ann_search, build_ivf

    idx = build_ivf(
        emb, "embedding", "vec_id", str(tmp_path / "idx"), num_partitions=6,
        metric=metric, index_type=kind,
        num_sub_vectors=8 if kind == "IVF_PQ" else None,
    )
    allow_df = emb.filter("label < 5").select("vec_id")
    allowed = {r[0] for r in allow_df.collect()}
    for q in queries:
        for k, nprobes, rf in ((10, 2, 1), (10, 3, 4), (15, 6, 40)):
            got = [(r["id"], r["_distance"]) for r in ann_search(
                spark, idx, q, k=k, nprobes=nprobes, refine_factor=rf
            ).collect()]
            _same(got, _reference(spark, idx, q, k, nprobes, rf))
        got = [(r["id"], r["_distance"]) for r in ann_search(
            spark, idx, q, k=10, nprobes=3, refine_factor=4, prefilter_rowids=allow_df
        ).collect()]
        _same(got, _reference(spark, idx, q, 10, 3, 4, allowed=allowed))
        assert {i for i, _ in got} <= allowed


@pytest.mark.parametrize("kind", ["IVF_FLAT", "IVF_PQ"])
def test_full_probe_full_refine_is_exact(spark, emb, queries, tmp_path, kind):
    """Every partition probed and every row refined: the answer is the
    exact brute-force top-k, ids and distances."""
    from lance_spark.indexes.vector import ann_search, build_ivf
    from lance_spark.operators.knn import knn_bruteforce

    idx = build_ivf(
        emb, "embedding", "vec_id", str(tmp_path / "idx"), num_partitions=4,
        metric="l2", index_type=kind, num_sub_vectors=8 if kind == "IVF_PQ" else None,
    )
    n = emb.count()
    for q in queries:
        got = ann_search(spark, idx, q, k=10, nprobes=4, refine_factor=n).collect()
        want = knn_bruteforce(emb, "embedding", q, k=10, metric="l2", id_col="vec_id").collect()
        _same([(r["id"], r["_distance"]) for r in got],
              [(r["vec_id"], r["_distance"]) for r in want])


def _nearest_reference(spark, ds, q, k, allowed=None):
    """Exact top-k over the live rows (the answer every route must give at
    full probe and full refine)."""
    from lance_spark.operators.knn import knn_bruteforce

    full = ds.to_df(spark, with_row_id=True)
    if allowed is not None:
        full = full.filter(F.col("vec_id").isin(sorted(allowed)))
    return [
        (r["_rowid"], r["_distance"])
        for r in knn_bruteforce(full, "embedding", q, k=k, metric="l2", id_col="_rowid").collect()
    ]


def _nearest(spark, ds, q, **kw):
    return [
        (r["_rowid"], r["_distance"])
        for r in ds.nearest(
            spark, "embedding", q, k=10, nprobes=4, refine_factor=500, with_row_id=True, **kw
        ).collect()
    ]


@pytest.mark.parametrize("kind", ["IVF_FLAT", "IVF_PQ", "IVF_SQ", "IVF_RQ"])
def test_nearest_tail_deletions_and_torn_delta(spark, emb, queries, tmp_path, kind):
    """``ds.nearest`` at full probe and refine equals exact search over the
    live rows: with a prefilter, with deletions lingering in the index,
    with an unindexed tail, and with a torn delta (the tail's rows in a
    visible segment the manifest does not cover) before and after
    compaction, when rowids stop being addresses."""
    import lance_spark as ls
    from lance_spark.dataset import dataset
    from lance_spark.indexes.vector import IvfIndex, extend_ivf

    kw = {"num_partitions": 4, "metric": "l2", "index_type": kind}
    if kind == "IVF_PQ":
        kw["num_sub_vectors"] = 8
    allowed = {r[0] for r in emb.filter("label % 2 = 0").select("vec_id").collect()}

    def check(ds):
        for q in queries:
            _same(_nearest(spark, ds, q), _nearest_reference(spark, ds, q, 10))
        q = queries[0]
        _same(
            _nearest(spark, ds, q, filter="label % 2 = 0"),
            _nearest_reference(spark, ds, q, 10, allowed),
        )

    def tear(uri):
        ds = dataset(uri)
        meta = next(i for i in ds.manifest.indices if i.column == "embedding")
        tail = [f.id for f in ds.manifest.fragments if f.id not in set(meta.fragment_ids)]
        assert tail
        extend_ivf(
            IvfIndex(os.path.join(uri, meta.path)), spark,
            ds.scanner(spark, columns=["embedding"], with_row_id=True, fragments=tail),
            fragments=tail,
        )
        return dataset(uri)

    for compacted in (False, True):
        uri = str(tmp_path / f"ds{int(compacted)}")
        ls.write_dataset(emb.filter("vec_id < 400").repartition(3), uri)
        ds = dataset(uri).create_index(spark, "embedding", **kw)
        ds = ds.delete(spark, "vec_id % 7 = 0")
        if compacted:
            ds = ds.compact_files(spark, target_rows_per_fragment=1000)
            assert not ds._rowid_addressable()
        check(ds)
        dataset(uri).insert(emb.filter("vec_id >= 400"))
        check(dataset(uri))
        check(tear(uri))


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"nearest-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
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
    return len(ids), names


def test_nearest_job_shape(spark, emb, queries, tmp_path):
    """A single-vector ``nearest`` on an IVF_PQ table runs ≤ 2 Spark jobs
    when the index covers every fragment and ≤ 4 with an unindexed tail."""
    import lance_spark as ls
    from lance_spark.dataset import dataset

    uri = str(tmp_path / "ds")
    ls.write_dataset(emb.filter("vec_id < 400").repartition(3), uri)
    ds = dataset(uri).create_index(
        spark, "embedding", index_type="IVF_PQ", num_partitions=4, metric="l2",
        num_sub_vectors=8,
    )
    q = queries[0]

    def run(ds):
        return ds.nearest(
            spark, "embedding", q, k=10, nprobes=2, refine_factor=10
        ).select("vec_id").collect()

    run(ds)  # warm
    n, names = _jobs(spark, lambda: run(ds))
    assert n <= 2, names
    dataset(uri).insert(emb.filter("vec_id >= 400"))
    ds = dataset(uri)
    run(ds)
    n, names = _jobs(spark, lambda: run(ds))
    assert n <= 4, names


def _plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_driver_relations_run_no_python_scan(spark, emb, queries, tmp_path):
    """The relations the engine builds on the driver plan as JVM
    ``LocalTableScan``s: the executed plans of ``nearest``, of
    ``connected_components`` and of an empty ``take_blobs`` hold no
    ``ExistingRDD`` scan, which would start Python workers."""
    import lance_spark as ls
    from lance_spark.dataset import dataset
    from lance_spark.operators.dedup import connected_components

    uri = str(tmp_path / "ds")
    ls.write_dataset(emb.filter("vec_id < 300"), uri)
    ds = dataset(uri).create_index(
        spark, "embedding", index_type="IVF_PQ", num_partitions=4, metric="l2",
        num_sub_vectors=8,
    )
    plans = {
        "nearest": _plan(ds.nearest(spark, "embedding", queries[0], k=5, refine_factor=4)),
        "nearest-filter": _plan(
            ds.nearest(spark, "embedding", queries[0], k=5, filter="label = 1")
        ),
    }
    nodes = spark.range(6).withColumnRenamed("id", "doc")
    pairs = spark.range(1).selectExpr("0L AS id_a", "1L AS id_b").union(
        spark.range(1).selectExpr("3L AS id_a", "4L AS id_b")
    )
    cc = connected_components(nodes, pairs, id_col="doc")
    assert sorted(tuple(r) for r in cc.collect()) == [
        (0, 0), (1, 0), (2, 2), (3, 3), (4, 3), (5, 5)
    ]
    plans["connected_components"] = _plan(cc)

    blob_uri = str(tmp_path / "blobs")
    blob_src = spark.range(4).selectExpr("id", "cast(concat('b', id) AS binary) AS payload")
    bds = ls.write_dataset(blob_src, blob_uri, blob_columns=["payload"])
    empty = bds.take_blobs(spark, [], "payload")
    assert empty.collect() == []
    plans["take_blobs"] = _plan(empty)
    for name, plan in plans.items():
        assert "ExistingRDD" not in plan, f"{name}:\n{plan}"
