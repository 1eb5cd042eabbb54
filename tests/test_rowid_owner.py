"""Which fragment holds a rowid, after compaction has decoupled the two.

A 4-fragment table goes through ``delete`` → ``compact_files`` →
``optimize_indices``. Compaction keeps each row's ``_rowid`` but moves the
row into a new fragment, so ``_rowid >> 32`` names a fragment that no
longer exists. Every index-assisted answer must still equal the plain
filtered scan, and ``scan_batches`` must tag each batch with the fragment
that really holds its rows.
"""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def compacted(spark, tmp_path_factory):
    from lance_spark.dataset import dataset
    from lance_spark.write import write_dataset

    uri = str(tmp_path_factory.mktemp("owner") / "t")
    rows = spark.range(400).select(
        F.col("id"),
        (F.col("id") % 7).alias("cat"),
        (F.col("id") * 2).cast("double").alias("price"),
    )
    write_dataset(rows.repartition(4, "id").sortWithinPartitions("id"), uri, mode="create")
    ds = dataset(uri)
    assert len(ds.manifest.fragments) == 4
    ds = ds.create_scalar_index(spark, "id", "ZONEMAP")
    ds = ds.create_scalar_index(spark, "cat", "BLOOMFILTER")
    ds = ds.create_scalar_index(spark, "price", "BTREE")
    ds = ds.delete(spark, "id < 10")
    ds = ds.compact_files(spark, target_rows_per_fragment=250)
    assert not ds._rowid_addressable()
    ds = ds.optimize_indices(spark)
    live = {f.id for f in ds.manifest.fragments}
    stale = {
        r.fid
        for r in ds.to_df(spark, with_row_id=True)
        .select(F.shiftright("_rowid", 32).alias("fid"))
        .distinct()
        .collect()
    }
    assert stale - live, "compaction should move rows into new fragments"
    return ds


@pytest.mark.parametrize(
    "predicate, expected",
    [
        ("id >= 390", 10),  # ZONEMAP
        ("cat = 3", 56),  # BLOOMFILTER
        ("price = 20 OR id >= 390", 11),  # BTREE branch OR ZONEMAP branch
    ],
)
def test_index_scan_matches_plain_scan(spark, compacted, predicate, expected):
    from lance_spark.indexes.scalar import scan_with_index

    plain = sorted(r.id for r in compacted.scanner(spark, columns=["id"], filter=predicate).collect())
    assert len(plain) == expected
    indexed = sorted(r.id for r in scan_with_index(compacted, spark, predicate, ["id"]).collect())
    assert indexed == plain


def test_scan_batches_tags_the_holding_fragment(spark, compacted):
    assert len(compacted.manifest.fragments) > 1
    holder = {}
    for frag in compacted.manifest.fragments:
        path = compacted._abs(frag.files[0].path)
        for r in spark.read.parquet(path).select("_rowid").collect():
            holder[r["_rowid"]] = frag.id
    seen = 0
    batches = compacted.scanner(spark, columns=["id"], with_row_id=True).scan_batches(
        fragment_batch_size=4
    )
    for tagged in batches:
        for rid in tagged.record_batch.column("_rowid").to_pylist():
            assert holder[rid] == tagged.fragment.id
            seen += 1
    assert seen == compacted.count_rows() == 390


def test_scan_batches_chunks_keep_the_per_fragment_order(spark, compacted):
    """A chunk's owner lookup must not reorder the scan: the same columns
    and, per fragment, the same rows in the same order as one scan per
    fragment. Automatic broadcasts are off so a shuffled join would show."""

    def by_fragment(size):
        names, rows = set(), {}
        scan = compacted.scanner(spark, columns=["price", "id"], with_row_id=True)
        for tagged in scan.scan_batches(fragment_batch_size=size):
            names.add(tuple(tagged.record_batch.schema.names))
            rows.setdefault(tagged.fragment.id, []).extend(tagged.record_batch.to_pylist())
        return names, rows

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        chunked = by_fragment(4)
    finally:
        spark.conf.set(key, old)
    assert chunked[0] == {("price", "id", "_rowid")}
    assert chunked == by_fragment(1)


def test_fragment_delete_touches_only_its_fragment(spark, compacted):
    from lance_spark.fragment import LanceFragment

    first, *rest = compacted.manifest.fragments
    even = "id % 2 = 0"
    hit = compacted.scanner(spark, filter=even, fragments=[first.id]).count()
    assert 0 < hit < first.num_rows
    out = LanceFragment(compacted, first.id).delete(spark, even)
    after = {f.id: f.num_deleted_rows for f in out.manifest.fragments}
    assert after[first.id] == first.num_deleted_rows + hit
    assert all(after[f.id] == f.num_deleted_rows for f in rest)
    assert out.count_rows() == compacted.count_rows() - hit
