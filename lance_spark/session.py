"""SparkSession factory with scale-appropriate defaults.

Configs chosen for correctness vs the DuckDB oracle (UTC session timezone,
Arrow enabled) and for 100 TB-scale habits (AQE on, skew-join handling on,
shuffle partitions sized to cores locally — on a real cluster AQE coalesces).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_BOOL_WORDS = {
    **dict.fromkeys(("1", "true", "yes", "on"), "true"),
    **dict.fromkeys(("0", "false", "no", "off"), "false"),
}


def _console_progress() -> str:
    """``SPARK_GRAFT_CONSOLE_PROGRESS`` as the conf value Spark accepts:
    1/true/yes/on → "true", 0/false/no/off → "false" (any case; default
    on). Anything else raises here, naming the variable, instead of
    failing session construction with a bare IllegalArgumentException."""
    raw = os.environ.get("SPARK_GRAFT_CONSOLE_PROGRESS", "true")
    try:
        return _BOOL_WORDS[raw.strip().lower()]
    except KeyError:
        raise ValueError(
            f"SPARK_GRAFT_CONSOLE_PROGRESS must be one of {sorted(_BOOL_WORDS)}"
            f" (any case), got {raw!r}"
        ) from None


def get_spark(app_name: str = "lance_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    console_progress = _console_progress()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python DataSource (sources/datasource.py) exact filter pushdown.
        # The env breadcrumb lets LanceDataSource.reader() — which runs in a
        # planner worker with no SparkSession — know the conf is on and pick
        # the pushFilters-capable reader (see datasource._pushdown_enabled).
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Spark has no ns timestamp type: read parquet TIMESTAMP(NANOS) as long
        # (events.ts); lance_spark.io.load_table derives a µs timestamp column
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Console progress bar: pure stderr churn in headless runs, and it
        # measurably interacts with output-capturing harnesses (pytest's
        # capture multiplies the redraw cost). Env-overridable; default on
        # so interactive use is unchanged.
        .config("spark.ui.showConsoleProgress", console_progress)
        # Read shuffle blocks with plain pread instead of mmap: Spark mmaps
        # any block over 2 MB (ancient default), and on many-core hosts the
        # resulting mmap/munmap churn serializes tasks on the process
        # mmap_lock + TLB shootdowns — measured here as 32 tasks uniformly
        # blocked in FileChannelImpl.map0/unmap0 turning a 2s shuffle stage
        # into 60s (jstack-confirmed; guide §7.3). Large-block reads via
        # pread are also kinder to the page cache on real clusters.
        .config(
            "spark.storage.memoryMapThreshold",
            os.environ.get("SPARK_GRAFT_MMAP_THRESHOLD", "512m"),
        )
        # This engine joins on COMPUTED keys everywhere (token hashes, LSH
        # band keys, shingles): InferFiltersFromConstraints clones the whole
        # key expression tree into inferred isnotnull/size predicates and
        # pushes them below exchanges — measured 22s of duplicated
        # tokenize+shingle evaluation on one ngram-jaccard join at sf0.1.
        # The isnotnull pruning it buys on plain-column joins is already
        # covered by parquet row-group stats.
        # InferFiltersFromGenerate does the same with explode()'s implicit
        # size>0/isnotnull guard — after projection collapse, the guard
        # re-evaluates the exploded array expression per input row.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints,"
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    # Breadcrumb for LanceDataSource._pushdown_enabled(): planner workers
    # (spawned by the driver JVM, so they inherit this env even on a real
    # cluster) can't read session confs; set BEFORE getOrCreate so the
    # first worker pool already sees it.
    os.environ["LANCE_SPARK_PUSHDOWN"] = "true"
    spark = builder.getOrCreate()
    try:
        # the reference's SQL UDF registry (udf.rs:16-29) — SQL UDFs
        # macro-expand into Catalyst expressions, so these stay codegen'd
        from lance_spark.functions.json import register_sql_functions

        failed = register_sql_functions(spark)
    except Exception as exc:  # pragma: no cover - older Spark without SQL UDFs
        failed, exc_msg = ["<registry import>"], str(exc)
    else:
        exc_msg = "CREATE FUNCTION DDL rejected"
    if failed:
        # a silent drop surfaces hours later as UNRESOLVED_ROUTINE in the
        # user's first ds.sql() — warn at session build instead (r12 review)
        import warnings

        warnings.warn(
            f"lance_spark: SQL functions not registered: {failed} ({exc_msg}); "
            "ds.sql() calls using them will fail with UNRESOLVED_ROUTINE",
            stacklevel=2,
        )
    return spark
