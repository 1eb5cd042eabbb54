"""Parquet table I/O: the catalog-schema read/write pair every engine-written
table goes through, plus the loader for the external testdata layout
(TESTDATA.md).

Lance never infers a schema: the manifest carries it (manifest.rs:35-75).
Here an inferring ``spark.read.parquet`` runs one footer-reading Spark job
per call, so every table the engine writes is read back with its schema
given: data and deletion files take theirs from the manifest
(``LanceDataset._read_files``), index and model tables from the
``_schema.json`` that ``write_table`` leaves next to the parquet parts
(Spark and pyarrow readers skip ``_``-prefixed files). Only the external
inputs ``load_table`` reads, which have no catalog, are inferred.

``events.ts`` is parquet TIMESTAMP(NANOS), which Spark has no type for; we
read it as a long (spark.sql.legacy.parquet.nanosAsLong=true, set in
session.py) and derive a µs-truncated TimestampType column — the same
truncation DuckDB's epoch_us() applies, so oracle comparisons line up.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from lance_spark.write import ROWID_COL

SCHEMA_FILE = "_schema.json"

#: a deletion sidecar holds exactly the deleted ``_rowid`` values; every
#: data file holds ``_rowid`` too, so rowid-only reads use the same schema
ROWID_SCHEMA = StructType([StructField(ROWID_COL, LongType())])


def write_table(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """Overwrite ``path`` with ``df`` as parquet and record its schema."""
    w = df.write.mode("overwrite")
    if partition_by is not None:
        w = w.partitionBy(partition_by)
    w.parquet(path)
    record_schema(path, df.schema)


def local_df(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A relation built on the driver, through Arrow, so it plans as a JVM
    ``LocalTableScan``. ``spark.createDataFrame`` over a Python list plans
    as ``Scan ExistingRDD`` instead, and every job that reads that starts
    Python workers, about 0.2 s before any work, even for an empty list.

    ``rows`` is a sequence of row tuples, or a dict of column name →
    values (a list, numpy array or ``pyarrow.Array``). ``schema`` is a DDL
    string or a StructType; the values are converted to its Arrow types."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    if isinstance(rows, dict):
        cols = [rows[f.name] for f in struct.fields]
    else:
        rows = list(rows)
        cols = list(zip(*rows)) if rows else [[] for _ in struct.fields]
    arrays = [
        c if isinstance(c, pa.Array) else pa.array(c, type=f.type)
        for c, f in zip(cols, arrow)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), struct)


def record_schema(path: str, schema: StructType) -> None:
    with open(os.path.join(path, SCHEMA_FILE), "w") as fh:
        fh.write(schema.json())


def recorded_schema(path: str) -> StructType | None:
    """The schema ``write_table`` recorded for ``path``; None for a table
    written before schemas were recorded."""
    try:
        with open(os.path.join(path, SCHEMA_FILE)) as fh:
            return StructType.fromJson(json.load(fh))
    except (FileNotFoundError, NotADirectoryError):
        return None


def read_table(
    spark: SparkSession, paths: str | list[str], schema: StructType | None = None
) -> DataFrame:
    """Read engine-written parquet without a footer-inference job.

    ``schema`` defaults to the recorded schema of the ``paths`` directories
    (they must agree). A legacy table with no recorded schema falls back
    to one inferring read."""
    paths = [paths] if isinstance(paths, str) else list(paths)
    if schema is None:
        found = {recorded_schema(p) for p in paths}
        if len(found) == 1:
            schema = found.pop()
    if schema is None:
        return spark.read.parquet(*paths)
    return spark.read.schema(schema).parquet(*paths)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Runtime-settable SQL confs; the driver's harness builds its own
    # SparkSession without our session.py defaults, so set them here too —
    # nanosAsLong: reading a TIMESTAMP(NANOS) events.parquet raises
    # PARQUET_TYPE_ILLEGAL on any foreign session without it; UTC session tz
    # keeps timestamp rendering aligned with DuckDB's naive timestamps.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":  # TIMESTAMP(NANOS) read as long under nanosAsLong
            df = df.withColumnRenamed("ts", "ts_ns").withColumn(
                "ts", F.expr("timestamp_micros(ts_ns div 1000)")
            )
        elif dt == "timestamp_ntz":
            # Spark 4 infers parquet non-UTC-adjusted micros as TIMESTAMP_NTZ;
            # cast to TIMESTAMP (identity under the UTC session tz above) so
            # watermarks/windows and prior query semantics keep working.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    for name in names or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


class StorageOptionsProvider:
    """Credential-refresh seam for object-store deployments (reference
    io.py:14 ``StorageOptionsProvider``). Long-running jobs on S3/GCS/Azure
    hold time-limited credentials; a provider is re-queried at each dataset
    open (the reference refreshes on expiry) so stale credentials never
    poison a cached handle.

    The local-filesystem backend this repo tests against needs no
    credentials — like the commit-lock seam (lance_spark.commit), the
    provider contract is the part an object-store integration plugs into:
    ``fetch_storage_options()`` returns the option dict handed to the
    filesystem layer, and MUST include an expiry key of the provider's
    choosing if refresh matters."""

    def fetch_storage_options(self) -> dict:
        raise NotImplementedError("subclasses implement fetch_storage_options")
