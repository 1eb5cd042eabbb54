"""The manifest is the catalog: engine-written tables are read with their
schema given, never inferred from parquet footers.

- data and deletion files take their schema from the manifest; after every
  schema-evolution step the catalog read equals a fresh inferring read
- every index sub-table records its schema at write; the record matches
  what an inferring read sees, and a table without one still answers
- a delete writes its deletion sidecars in one pass, unioned with the
  fragment's previous sidecar
"""

import glob
import os
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import lance_spark as ls
from lance_spark.dataset import LanceDataset
from lance_spark.io import SCHEMA_FILE, read_table, recorded_schema
from lance_spark.write import FRAGID_SHIFT, ROWID_COL


def _jobs(spark, fn):
    """(result, job count, stage names) of ``fn`` run under its own job group."""
    sc = spark.sparkContext
    group = f"catalog-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    ids = tracker.getJobIdsForGroup(group)
    names = []
    for j in ids:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else []:
            st = tracker.getStageInfo(s)
            if st is not None:
                names.append(st.name)
    return out, len(ids), names


def _no_inference(names):
    return [n for n in names if n.startswith("parquet at")] == []


def _corpus(spark, n=240, start=0):
    words = F.array(*[F.lit(w) for w in ("red", "green", "blue", "cyan")])
    return spark.range(start, start + n).select(
        F.col("id"),
        (F.col("id") % 5).cast("int").alias("cat"),
        F.concat_ws(" ", F.lit("doc"), F.element_at(words, (F.col("id") % 4 + 1).cast("int")),
                    F.col("id").cast("string")).alias("text"),
        F.array(F.element_at(words, (F.col("id") % 4 + 1).cast("int"))).alias("tags"),
        (F.col("id") * 1.5).alias("price"),
        F.array(*[F.sin(F.col("id") * (i + 1)).cast("float") for i in range(8)]).alias("emb"),
    )


def _inferring_to_df(ds, spark, monkeypatch):
    """The same scan with every file's schema inferred from its footer."""
    with monkeypatch.context() as m:
        m.setattr(LanceDataset, "_file_schemas", lambda self: {})
        df = ds.to_df(spark)
        return df.schema, sorted(df.collect())


class TestSchemaEvolutionPin:
    def test_every_step_reads_like_an_inferring_read(self, spark, tmp_path, monkeypatch):
        uri = str(tmp_path / "evo")
        ds = ls.write_dataset(_corpus(spark, 60).drop("emb", "tags").repartition(3), uri)
        steps = [
            ("add_columns", lambda d: d.add_columns(spark, {"twice": "price * 2"})),
            ("rename", lambda d: d.alter_columns({"path": "cat", "rename": "category"})),
            ("cast", lambda d: d.alter_columns(
                {"path": "twice", "data_type": "int"}, spark=spark)),
            ("drop", lambda d: d.drop_columns(["text"])),
            ("delete", lambda d: d.delete(spark, "id % 7 = 0")),
            ("merge_insert", lambda d: d.merge_insert("id")
                .when_matched_update_all().when_not_matched_insert_all()
                .execute(spark, d.to_df(spark).filter("id < 5 OR id > 50")
                         .withColumn("id", F.col("id") + 40)
                         .withColumn("price", F.col("price") + 1))),
        ]
        for name, step in steps:
            ds = step(ds)
            (schema, rows), _, names = _jobs(
                spark, lambda: (ds.to_df(spark).schema, sorted(ds.to_df(spark).collect()))
            )
            assert _no_inference(names), (name, names)
            want_schema, want_rows = _inferring_to_df(ds, spark, monkeypatch)
            assert schema == want_schema, name
            assert rows == want_rows, name
        assert dict(ds.to_df(spark).dtypes) == {
            "id": "bigint", "category": "int", "price": "double", "twice": "int",
        }


# --------------------------------------------------------------- drift guard

_VECTOR_TYPES = ("IVF_FLAT", "IVF_PQ", "IVF_SQ",
                 "IVF_HNSW_FLAT", "IVF_HNSW_PQ", "IVF_HNSW_SQ")
_SCALAR_TYPES = {"BTREE": "price", "BITMAP": "cat", "ZONEMAP": "price",
                 "NGRAM": "text", "LABEL_LIST": "tags", "BLOOMFILTER": "cat"}


def _sub_tables(ds):
    return sorted(os.path.dirname(p) for p in glob.glob(
        os.path.join(ds.uri, "_indices", "**", SCHEMA_FILE), recursive=True))


def _assert_recorded_matches_footers(spark, ds):
    tables = _sub_tables(ds)
    for t in tables:
        assert read_table(spark, t).schema == spark.read.parquet(t).schema, t
    return tables


def _assert_data_files_match_footers(spark, ds):
    """Each file's catalog scan types equal its footer's; the footer may
    hold more (a dropped column's bytes stay in place)."""
    for path, schema in ds._file_schemas().items():
        footer = {f.name: f.dataType for f in spark.read.parquet(ds._abs(path)).schema}
        got = {f.name: f.dataType for f in ds._read_files(spark, [path]).schema}
        assert got == {n: footer[n] for n in got}, path


def test_recorded_schemas_match_footers_for_every_index_type(spark, tmp_path):
    uri = str(tmp_path / "drift")
    ds = ls.write_dataset(_corpus(spark).repartition(4), uri)
    for t in _VECTOR_TYPES:
        ds = ds.create_index(spark, "emb", t, name=f"v_{t.lower()}", num_partitions=2,
                             num_sub_vectors=2, metric="l2")
    for t, col in _SCALAR_TYPES.items():
        ds = ds.create_scalar_index(spark, col, t, name=f"s_{t.lower()}")
    from lance_spark.indexes.inverted import create_inverted_index

    ds = create_inverted_index(ds, spark, "text")
    built = _assert_recorded_matches_footers(spark, ds)
    # every index type left at least one recorded table
    names = {i.name for i in ds.manifest.indices}
    for n in names:
        assert any(f"{os.sep}{n}{os.sep}" in t + os.sep for t in built), n
    _assert_data_files_match_footers(spark, ds)

    ds = ds.insert(_corpus(spark, 40, start=240).repartition(2))
    ds = ds.optimize_indices(spark)
    after = _assert_recorded_matches_footers(spark, ds)
    assert len(after) >= len(built)
    _assert_data_files_match_footers(spark, ds)


def test_manifest_schema_matches_footers_after_evolution(spark, tmp_path):
    uri = str(tmp_path / "drift_data")
    ds = ls.write_dataset(_corpus(spark, 40).drop("emb", "tags").repartition(2), uri)
    ds = ds.add_columns(spark, {"half": "price / 2"})
    ds = ds.alter_columns({"path": "cat", "rename": "category"})
    ds = ds.alter_columns({"path": "half", "data_type": "float"}, spark=spark)
    ds = ds.delete(spark, "id < 3")
    ds = ds.insert(ds.to_df(spark).limit(3).withColumn("id", F.col("id") + 100))
    _assert_data_files_match_footers(spark, ds)


def test_legacy_tables_without_recorded_schema_still_answer(spark, tmp_path):
    from lance_spark.indexes.inverted import create_inverted_index

    uri = str(tmp_path / "legacy")
    ds = ls.write_dataset(_corpus(spark).repartition(4), uri)
    ds = ds.create_index(spark, "emb", "IVF_PQ", num_partitions=2, num_sub_vectors=2,
                         metric="l2")
    ds = ds.create_scalar_index(spark, "cat", "BITMAP")
    ds = create_inverted_index(ds, spark, "text")
    q = [0.1, -0.2, 0.3, 0.0, 0.5, -0.1, 0.2, 0.4]

    def answers(d):
        ann = [(r["id"], round(r["_distance"], 4))
               for r in d.nearest(spark, "emb", q, k=5, nprobes=2).collect()]
        fts = sorted((r["id"], round(r["_score"], 4))
                     for r in d.full_text_search(spark, "cyan", k=100).collect())
        scalar = sorted(r["id"] for r in d.scan_with_index(spark, "cat = 3").collect())
        return ann, fts, scalar

    (want, _, names) = _jobs(spark, lambda: answers(ds))
    assert _no_inference(names), names
    assert want[1] and want[2] == list(range(3, 240, 5))
    removed = glob.glob(os.path.join(uri, "_indices", "**", SCHEMA_FILE), recursive=True)
    assert removed
    for p in removed:
        os.remove(p)
    assert all(recorded_schema(os.path.dirname(p)) is None for p in removed)
    assert answers(ls.dataset(uri)) == want


# ------------------------------------------------- one-pass deletion sidecars


def _sidecar(ds, fid):
    frag = next(f for f in ds.manifest.fragments if f.id == fid)
    return pq.read_table(ds._abs(frag.deletion_file)).column(ROWID_COL).to_pylist()


def _four_fragments(spark, uri, n=80):
    return ls.write_dataset(spark.range(n).select("id", (F.col("id") * 2).alias("v"))
                            .repartition(4, "id"), uri)


def _fragment_rowids(ds, spark, fid):
    return sorted(r[ROWID_COL] for r in ds.to_df(spark, with_row_id=True).collect()
                  if r[ROWID_COL] >> FRAGID_SHIFT == fid)


class TestDeletionFold:
    def test_two_deletes_on_one_fragment_union_the_sidecars(self, spark, tmp_path):
        ds = _four_fragments(spark, str(tmp_path / "fold"))
        rids = _fragment_rowids(ds, spark, 0)
        ds = ds.delete(spark, f"_rowid IN ({rids[0]}, {rids[2]})")
        assert _sidecar(ds, 0) == [rids[0], rids[2]]
        ds = ds.delete(spark, f"_rowid IN ({rids[1]}, {rids[2]})")
        assert _sidecar(ds, 0) == rids[:3]
        assert [f.deletion_file for f in ds.manifest.fragments[1:]] == [None] * 3
        assert ds.count_rows() == 77

    def test_delete_after_compaction_uses_the_rowid_map(self, spark, tmp_path):
        ds = _four_fragments(spark, str(tmp_path / "fold_compact"))
        ds = ds.delete(spark, "id % 10 = 0")
        ds = ds.compact_files(spark, target_rows_per_fragment=1000)
        assert ds.manifest.config.get("rowid_address_style") is False
        assert len(ds.manifest.fragments) == 1
        fid = ds.manifest.fragments[0].id
        by_id = {r["id"]: r[ROWID_COL] for r in ds.to_df(spark, with_row_id=True).collect()}
        ds = ds.delete(spark, "id IN (1, 2)")
        ds = ds.delete(spark, "id IN (2, 3)")
        assert _sidecar(ds, fid) == sorted(by_id[i] for i in (1, 2, 3))
        assert ds.count_rows() == 80 - 8 - 3

    def test_racing_delete_is_rechecked_against_the_committed_sidecar(self, spark, tmp_path):
        from lance_spark.mutation import StaleSnapshotError, _apply_deletes_and_appends

        uri = str(tmp_path / "fold_race")
        _four_fragments(spark, uri)
        stale = ls.dataset(uri)
        rids = _fragment_rowids(stale, spark, 0)
        ls.dataset(uri).delete(spark, f"_rowid = {rids[0]}")
        with pytest.raises(StaleSnapshotError):
            _apply_deletes_and_appends(
                stale, spark, spark.createDataFrame([(rids[1],)], f"{ROWID_COL} long"),
                None, "delete",
            )
        # the public path recomputes from the fresh snapshot: both land
        ds = stale.delete(spark, f"_rowid = {rids[1]}")
        assert _sidecar(ds, 0) == rids[:2]
        assert ds.count_rows() == 78

    def test_delete_runs_at_most_three_jobs(self, spark, tmp_path):
        ds = _four_fragments(spark, str(tmp_path / "fold_jobs"))
        out, n_jobs, names = _jobs(spark, lambda: ds.delete(spark, "id % 9 = 0"))
        assert n_jobs <= 3, (n_jobs, names)
        assert _no_inference(names)
        assert out.count_rows() == 80 - 9
