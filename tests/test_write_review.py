"""Regression pins for the r11 adversarial review of write.py: append
schema-drift protection, mode validation, create-race handling, reserved
column stripping, blob-registry invariance, and input-type errors.
"""

import pytest
from pyspark.sql import functions as F

import lance_spark as ls
from lance_spark import manifest as mf


def _region(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/region.parquet")


def test_append_type_drift_casts_to_dataset_schema(spark, sf_dir, tmp_path):
    """review #1: an append whose column types drift must cast to the
    DATASET schema, never rewrite it — old and new fragments must scan
    together."""
    uri = str(tmp_path / "w1")
    ds = ls.write_dataset(_region(spark, sf_dir), uri, mode="create")
    before_types = dict(ds.to_df(spark).dtypes)
    drifted = _region(spark, sf_dir).withColumn(
        "r_regionkey", F.col("r_regionkey").cast("string")
    )
    ds = ls.write_dataset(drifted, uri, mode="append")
    # schema unchanged, both halves readable in one scan
    assert dict(ds.to_df(spark).dtypes) == before_types
    assert ds.to_df(spark).count() == 10
    assert ds.to_df(spark).agg(F.sum("r_regionkey")).collect()[0][0] == 20


def test_unknown_mode_rejected(spark, sf_dir, tmp_path):
    """review #2: a typo'd mode must raise, never truncate the dataset."""
    uri = str(tmp_path / "w2")
    ls.write_dataset(_region(spark, sf_dir), uri, mode="create")
    for bad in ("merge", "Append", "upsert"):
        with pytest.raises(ValueError, match="unknown write mode"):
            ls.write_dataset(_region(spark, sf_dir), uri, mode=bad)
    assert ls.dataset(uri).count_rows() == 5


def test_bootstrap_create_race_reruns_as_append(spark, sf_dir, tmp_path, monkeypatch):
    """review #3: mode='append' on a missing dataset flips to create; if
    another writer creates it first, the commit must rerun as a true
    append — never overwrite the other writer's version."""
    import lance_spark.write as w

    uri = str(tmp_path / "w3")
    real_commit = mf.commit
    state = {"injected": False}

    def racing_commit(root, build, **kw):
        if not state["injected"] and root == uri:
            state["injected"] = True
            # the other writer lands a create between probe and commit
            real_commit(
                root,
                lambda base, version: mf.Manifest(
                    version=version,
                    schema_json=_region(spark, sf_dir).schema.jsonValue(),
                    fragments=w.write_fragments(
                        _region(spark, sf_dir).coalesce(1), root, 0
                    ),
                    max_fragment_id=0,
                    operation="create",
                ),
                operation="create",
            )
        return real_commit(root, build, **kw)

    monkeypatch.setattr(w.mf, "commit", racing_commit)
    ds = w.write_dataset(_region(spark, sf_dir), uri, mode="append")
    monkeypatch.undo()
    # both writers' rows survive
    assert ds.count_rows() == 10
    ids = {f.id for f in ds.manifest.fragments}
    assert len(ids) == len(ds.manifest.fragments)  # no fragment-id collision


def test_reserved_columns_stripped_from_schema(spark, sf_dir, tmp_path):
    """review #6: a df carrying _rowid (copy round-trip) must not register
    it as a user column."""
    uri = str(tmp_path / "w4")
    ds = ls.write_dataset(_region(spark, sf_dir), uri, mode="create")
    uri2 = str(tmp_path / "w4copy")
    ds2 = ls.write_dataset(ds.to_df(spark, with_row_id=True), uri2, mode="create")
    assert "_rowid" not in ds2.columns
    assert ds2.to_df(spark, with_row_id=True).columns.count("_rowid") == 1
    assert ds2.count_rows() == 5


def test_append_blob_registry_is_invariant(spark, sf_dir, tmp_path):
    """review #7: append can't swap the dataset-wide blob registry."""
    uri = str(tmp_path / "w5")
    docs = spark.createDataFrame(
        [(i, bytes([i] * 32)) for i in range(6)], "id long, img binary"
    )
    ds = ls.write_dataset(docs, uri, mode="create", blob_columns=["img"])
    assert ds.manifest.blob_columns == ["img"]
    with pytest.raises(ValueError, match="blob"):
        # same schema, but the append asks to DROP the blob layout
        ls.write_dataset(docs, uri, mode="append", blob_columns=["id"])
    # registry-matching appends (explicit or implicit) inherit fine
    ds = ls.write_dataset(docs, uri, mode="append")
    assert ds.manifest.blob_columns == ["img"] and ds.count_rows() == 12

    # a dataset created WITHOUT blobs can't grow one via append
    uri2 = str(tmp_path / "w5b")
    ls.write_dataset(docs, uri2, mode="create")
    with pytest.raises(ValueError, match="blob"):
        ls.write_dataset(docs, uri2, mode="append", blob_columns=["img"])


def test_missing_blob_column_fails_fast(spark, sf_dir, tmp_path):
    """review #8: a typo'd blob column errors on the driver, not as an
    opaque Arrow failure inside an executor."""
    docs = spark.createDataFrame([(1, b"x")], "id long, img binary")
    with pytest.raises(ValueError, match="imge"):
        ls.write_dataset(docs, str(tmp_path / "w6"), blob_columns=["imge"])


def test_unsupported_input_type_raises_type_error(spark, tmp_path):
    """review #10: unrecognized write inputs fail at the API boundary."""
    import pyarrow as pa

    with pytest.raises(TypeError, match="unsupported write input"):
        ls.write_dataset(42, str(tmp_path / "w7"))
    with pytest.raises(TypeError, match="unsupported write input"):
        ls.write_dataset([], str(tmp_path / "w8"))
    # a bare RecordBatch is a documented ReaderLike — now accepted
    rb = pa.record_batch({"a": [1, 2, 3]})
    ds = ls.write_dataset(rb, str(tmp_path / "w9"))
    assert ds.count_rows() == 3


def test_append_preserves_concurrent_base_registry(spark, sf_dir, tmp_path, monkeypatch):
    """review #5: a registry commit landing between an append's probe and
    its commit must survive (evolve against the FRESH manifest)."""
    import lance_spark.write as w
    from lance_spark.operation import LanceOperation, commit as op_commit

    uri = str(tmp_path / "w10")
    ls.write_dataset(_region(spark, sf_dir), uri, mode="create")
    base2 = str(tmp_path / "base2")

    real_commit = mf.commit
    state = {"injected": False}

    def racing_commit(root, build, **kw):
        if not state["injected"] and root == uri:
            state["injected"] = True
            op_commit(
                uri,
                LanceOperation.UpdateBases(
                    new_bases=[mf.DatasetBasePath(name="b2", path=base2)]
                ),
            )
        return real_commit(root, build, **kw)

    monkeypatch.setattr(w.mf, "commit", racing_commit)
    ds = w.write_dataset(_region(spark, sf_dir), uri, mode="append")
    monkeypatch.undo()
    assert "b2" in {b["name"] for b in ds.manifest.bases}
    assert ds.count_rows() == 10


def test_append_rows_read_back_from_the_dataset(spark, tmp_path):
    """A non-nullable nested type (``F.array(F.lit(...))`` records
    ``containsNull=false``) must still accept rows read back from parquet,
    whose nested types are always nullable."""
    uri = str(tmp_path / "nested")
    src = spark.range(6).select(
        "id",
        F.array(F.lit("a"), F.lit("b")).alias("tags"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.struct(F.col("id").alias("x")).alias("s"),
    )
    ds = ls.write_dataset(src, uri, mode="create")
    ds = ds.insert(ds.to_df(spark).limit(2))
    assert ds.count_rows() == 8
    assert ds.to_df(spark).filter("tags[1] = 'b'").count() == 8
