"""Schema evolution: add_columns / drop_columns / alter_columns / merge.

Reference semantics:
  - add_columns(transform) is *horizontal* evolution: new columns land in new
    DataFiles aligned to existing rows; existing files are never rewritten
    (dataset.py:1725, rust/lance/src/dataset/schema_evolution.rs:58-71
    NewColumnTransform ∈ {SQL exprs, batch UDF, all-nulls}).
  - drop_columns is a metadata-only tombstone (dataset.py:1830).
  - alter_columns renames/casts preserving field identity (dataset.py:1605).
  - merge(right, on) attaches precomputed columns by key join
    (dataset.py:1666, dataset/hash_joiner.rs:22).

Spark-first HOW: alignment uses the materialized ``_rowid`` instead of file
position — every column-group file stores ``_rowid``, so the read path zips
groups with an equi-join that Catalyst executes as a co-partitioned join.
New column-group files are written one-per-fragment by a distributed
applyInPandas over fragment id — O(new columns), never O(table).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from lance_spark import manifest as mf
from lance_spark.write import ROWID_COL

_CG_META_SCHEMA = StructType(
    [
        StructField("fragment_id", LongType()),
        StructField("path", StringType()),
        StructField("num_rows", LongType()),
    ]
)


def _write_column_groups(
    ds, spark: SparkSession, new_cols_df: DataFrame, new_cols: list[str],
    checkpoint=None, fn=None, fn_read_cols: list[str] | None = None,
    fn_out_schema=None, fragments=None,
) -> dict[int, str]:
    """Write {_rowid, *new_cols} as one parquet per fragment; returns
    {fragment_id: rel_path}. Distributed one-task-per-fragment, keyed by
    ``ds._with_fragment_id`` (``fragments`` narrows that lookup for a
    per-fragment caller).

    With ``fn`` (the checkpointed-BatchUDF path) the UDF runs INSIDE the
    fragment task, so one fragment's failure leaves sibling fragments'
    files + markers durable; each finished fragment drops a marker in the
    ``FragmentCheckpoint`` so an interrupted run resumes (markers must
    live on storage all executors reach — same requirement as the dataset
    root itself)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    # declared types must survive the pandas hop (e.g. decimal precision
    # would otherwise be re-inferred from values)
    if fn is None:
        arrow_schema = to_arrow_schema(new_cols_df.select(ROWID_COL, *new_cols).schema)
    else:
        arrow_schema = to_arrow_schema(
            StructType([StructField(ROWID_COL, LongType())] + list(fn_out_schema.fields))
        )
    ckpt_path = checkpoint.path if checkpoint is not None else None
    root = ds.uri

    def write_group(pdf):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        fid = int(pdf["fragment_id"].iloc[0])
        if fn is not None:
            res = fn(pdf[fn_read_cols])
            res[ROWID_COL] = pdf[ROWID_COL].values
            pdf = res
        rel = os.path.join("data", f"frag-{fid}-cg-{uuid.uuid4().hex}.parquet")
        abspath = os.path.join(root, rel)
        os.makedirs(os.path.dirname(abspath), exist_ok=True)
        out = pdf[[ROWID_COL] + new_cols].sort_values(ROWID_COL)
        pq.write_table(
            pa.Table.from_pandas(out, schema=arrow_schema, preserve_index=False),
            abspath,
            compression="zstd",
        )
        if ckpt_path is not None:
            from lance_spark.udf import FragmentCheckpoint

            FragmentCheckpoint(ckpt_path).put(fid, rel, len(out), columns=new_cols)
        return pd.DataFrame({"fragment_id": [fid], "path": [rel], "num_rows": [len(out)]})

    meta = (
        ds._with_fragment_id(spark, new_cols_df, fragments=fragments)
        .groupBy("fragment_id")
        .applyInPandas(write_group, _CG_META_SCHEMA)
        .collect()
    )
    return {r.fragment_id: r.path for r in meta}


def _commit_new_columns(ds, cg_map: dict[int, str], new_fields: list[dict], new_cols: list[str]):
    from lance_spark.dataset import LanceDataset

    def build(base: mf.Manifest | None, version: int) -> mf.Manifest:
        assert base is not None
        fragments = []
        for frag in base.fragments:
            files = list(frag.files)
            if frag.id in cg_map:
                files.append(mf.DataFile(path=cg_map[frag.id], columns=new_cols))
            fragments.append(
                mf.Fragment(
                    id=frag.id,
                    files=files,
                    physical_rows=frag.physical_rows,
                    deletion_file=frag.deletion_file,
                    num_deleted_rows=frag.num_deleted_rows,
                )
            )
        schema_json = dict(base.schema_json)
        schema_json["fields"] = list(base.schema_json["fields"]) + new_fields
        return mf.Manifest.evolve(
            base, version, operation="add_columns",
            schema_json=schema_json, fragments=fragments,
        )

    mf.commit(ds.uri, build, operation="add_columns")
    return LanceDataset(ds.uri)


def transforms_to_new_df(
    base: DataFrame,
    transforms,
    read_cols: list[str],
    spark: SparkSession,
    out_schema=None,
) -> tuple[DataFrame, list[str]]:
    """callable / {name: sql} transforms → ({_rowid, *new_cols} DataFrame,
    new column names). The shared core of dataset ``add_columns`` (plain
    paths) and fragment ``merge_columns`` — one place for the probe /
    apply-batches / null-column rules. ``out_schema`` skips the one-row
    probe (BatchUDF declared schema)."""
    if callable(transforms):
        if out_schema is None:
            probe_src = base.select(*read_cols).limit(1).toPandas()
            if probe_src.empty:
                raise ValueError(
                    "no live rows to derive the UDF output schema from; "
                    "declare the schema (BatchUDF) or skip empty fragments"
                )
            out_schema = spark.createDataFrame(transforms(probe_src)).schema

        def apply_batches(it):
            for pdf in it:
                res = transforms(pdf[read_cols])
                res[ROWID_COL] = pdf[ROWID_COL].values
                yield res

        full_schema = StructType(
            list(out_schema.fields) + [StructField(ROWID_COL, LongType())]
        )
        return base.mapInPandas(apply_batches, full_schema), list(out_schema.fieldNames())
    exprs = [
        F.lit(None).cast("string").alias(name) if sql is None else F.expr(sql).alias(name)
        for name, sql in transforms.items()
    ]
    return base.select(F.col(ROWID_COL), *exprs), list(transforms)


def new_fields_json(new_df: DataFrame, new_cols: list[str]) -> list[dict]:
    """Schema-JSON dicts for the new columns — derived from the plan's
    schema directly (no empty-DataFrame round-trip)."""
    by_name = {f.name: f for f in new_df.schema.fields}
    return StructType([by_name[c] for c in new_cols]).jsonValue()["fields"]


def add_columns(ds, spark: SparkSession, transforms, read_columns: list[str] | None = None):
    """transforms: {name: sql_expr} | callable(pandas.DataFrame)->pandas.DataFrame
    (batch UDF over read_columns, python/python/lance/udf.py) | {name: None}
    for all-null columns. A ``lance_spark.udf.BatchUDF`` adds a declared
    output schema (skips the one-row probe) and per-fragment resumable
    checkpointing (udf.py:96-166 BatchUDFCheckpoint role)."""
    import pyarrow as pa

    from lance_spark.udf import BatchUDF

    if isinstance(transforms, pa.Field):
        transforms = [transforms]
    if (
        isinstance(transforms, list)
        and transforms
        and all(isinstance(f, pa.Field) for f in transforms)
    ):
        # reference dataset.py add_columns(pa.Field...): typed all-null
        # columns — a metadata-cheap schema extension
        from pyspark.sql.pandas.types import from_arrow_type

        transforms = {
            f.name: f"CAST(NULL AS {from_arrow_type(f.type).simpleString()})"
            for f in transforms
        }

    base = ds.to_df(spark, with_row_id=True)
    checkpoint = None

    if callable(transforms):
        import pandas as pd  # noqa: F401

        fn = transforms
        if isinstance(transforms, BatchUDF) and transforms.output_schema is not None:
            out_schema = transforms.output_schema
        else:
            probe_pdf = base.select(*(read_columns or ds.columns)).limit(1).toPandas()
            if probe_pdf.empty:
                # the opaque 'can not infer schema from empty dataset' is
                # replaced by the shared probe's crafted error (r12 review)
                raise ValueError(
                    "add_columns: no live rows to derive the UDF output"
                    " schema from; declare output_schema on the BatchUDF"
                )
            probe = fn(probe_pdf)
            out_schema = spark.createDataFrame(probe).schema
        new_cols = list(out_schema.fieldNames())

        if isinstance(transforms, BatchUDF) and transforms.checkpoint_file:
            from lance_spark.udf import FragmentCheckpoint

            checkpoint = FragmentCheckpoint(transforms.checkpoint_file)
            done = checkpoint.done(expected_columns=new_cols)
            if done:
                # resume: skip completed fragments BEFORE the UDF runs —
                # the scan reads only the fragments still to do
                base = ds.scanner(
                    spark, with_row_id=True,
                    fragments=[f.id for f in ds.manifest.fragments if f.id not in done],
                )
            # the UDF must run INSIDE the per-fragment write task (not a
            # map stage before the shuffle barrier): a failure on one
            # fragment then can't prevent sibling fragments from finishing
            # their file + marker, which is what makes resume meaningful
            collide = set(new_cols) & set(ds.columns)
            if collide:
                raise ValueError(f"columns already exist: {sorted(collide)}")
            src = base.select(ROWID_COL, *(read_columns or ds.columns))
            cg_map = _write_column_groups(
                ds, spark, src, new_cols, checkpoint=checkpoint,
                fn=fn, fn_read_cols=read_columns or ds.columns,
                fn_out_schema=out_schema,
            )
            cg_map.update(
                {
                    fid: d["path"]
                    for fid, d in checkpoint.done(expected_columns=new_cols).items()
                }
            )
            new_fields = list(out_schema.jsonValue()["fields"])
            out_ds = _commit_new_columns(ds, cg_map, new_fields, new_cols)
            # the commit is durable: stale markers must not poison a later
            # add_columns that reuses this checkpoint path
            checkpoint.cleanup()
            return out_ds

        new_df, new_cols = transforms_to_new_df(
            base, fn, read_columns or ds.columns, spark, out_schema=out_schema
        )
    else:
        new_df, new_cols = transforms_to_new_df(
            base, transforms, read_columns or ds.columns, spark
        )

    collide = set(new_cols) & set(ds.columns)
    if collide:
        raise ValueError(f"columns already exist: {sorted(collide)}")
    cg_map = _write_column_groups(ds, spark, new_df, new_cols)
    return _commit_new_columns(ds, cg_map, new_fields_json(new_df, new_cols), new_cols)


def dedup_right_keys(right: DataFrame, key: str) -> DataFrame:
    """One row per join key, last occurrence wins — the reference HashJoiner
    contract (rust/lance/src/dataset/hash_joiner.rs:90: later batches
    overwrite earlier map entries). Without this the left join fans out and
    the column-group file carries duplicate ``_rowid``s, which the read-path
    zip join multiplies into duplicate TABLE rows."""
    from pyspark.sql.window import Window

    seq = F.monotonically_increasing_id()
    w = Window.partitionBy(key).orderBy(F.desc("__seq"))
    return (
        right.withColumn("__seq", seq)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__seq", "__rn")
    )


def merge(ds, spark: SparkSession, right: DataFrame, left_on: str, right_on: str | None = None):
    """Attach precomputed columns by key join (hash_joiner.rs:22).

    ``right`` may be a Spark DataFrame, a pyarrow Table, or a
    RecordBatchReader (reference dataset.py:1666 merge accepts ReaderLike)."""
    import pyarrow as pa

    if isinstance(right, pa.RecordBatchReader):
        right = right.read_all()
    if isinstance(right, pa.Table):
        from lance_spark.types import normalize_arrow_table

        right = spark.createDataFrame(normalize_arrow_table(right))
    right_on = right_on or left_on
    new_cols = [c for c in right.columns if c != right_on]
    existing = {f["name"] for f in ds.manifest.schema_json["fields"]}
    clash = [c for c in new_cols if c in existing]
    if clash:
        # the reference's HashJoiner rejects overlapping columns; silently
        # committing a duplicate field + a second file claiming it made
        # later reads ambiguous (r12 review — add_columns already checks)
        raise ValueError(f"merge: column(s) already exist: {clash}")
    base = ds.to_df(spark, with_row_id=True).select(ROWID_COL, left_on)
    joined = base.join(
        dedup_right_keys(right.withColumnRenamed(right_on, left_on), left_on),
        on=left_on,
        how="left",
    ).select(ROWID_COL, *new_cols)
    cg_map = _write_column_groups(ds, spark, joined, new_cols)
    new_fields = [
        f
        for f in right.schema.jsonValue()["fields"]
        if f["name"] in new_cols
    ]
    return _commit_new_columns(ds, cg_map, new_fields, new_cols)


def drop_columns(ds, columns: list[str]):
    """Metadata-only tombstone (dataset.py:1830): data files keep the bytes;
    the schema and DataFile column lists stop referencing them."""
    from lance_spark.dataset import LanceDataset

    def build(base: mf.Manifest | None, version: int) -> mf.Manifest:
        assert base is not None
        names = {f["name"] for f in base.schema_json["fields"]}
        missing = [c for c in columns if c not in names]
        if missing:
            # silent no-op on a typo'd name previously; worse, the
            # drop-all guard's length arithmetic was bypassed by it (r12)
            raise ValueError(f"no such column(s): {missing}")
        remaining = [f for f in base.schema_json["fields"] if f["name"] not in columns]
        if not remaining:
            raise ValueError("cannot drop all columns")
        schema_json = dict(base.schema_json)
        schema_json["fields"] = remaining
        # DataFile.columns hold PHYSICAL names: translate each dropped
        # LOGICAL name through column_renames, and purge its map entry —
        # a stale entry let a later add_columns of the same name silently
        # resurrect the dropped column's old values (r12 review)
        renames = dict(base.config.get("column_renames", {}))
        phys_drop = set()
        for c in columns:
            phys = next((k for k, v in renames.items() if v == c), c)
            phys_drop.add(phys)
            renames.pop(phys, None)
        cfg = dict(base.config)
        cfg["column_renames"] = renames
        fragments = []
        for frag in base.fragments:
            files = []
            for df_ in frag.files:
                kept = [c for c in df_.columns if c not in phys_drop]
                if kept or df_ is frag.files[0]:
                    files.append(mf.DataFile(path=df_.path, columns=kept))
            fragments.append(
                mf.Fragment(frag.id, files, frag.physical_rows, frag.deletion_file, frag.num_deleted_rows)
            )
        return mf.Manifest.evolve(
            base, version, operation="drop_columns",
            schema_json=schema_json, fragments=fragments, config=cfg,
            indices=[i for i in base.indices if i.column not in columns],
            blob_columns=[c for c in base.blob_columns if c not in columns],
        )

    mf.commit(ds.uri, build, operation="drop_columns")
    return LanceDataset(ds.uri)


def alter_columns(ds, *alterations: dict, spark=None):
    """Rename / nullability are metadata-only; we record renames in the
    manifest config and apply them at read (field-id semantics of
    schema_evolution.rs:74+ approximated by a physical→logical name map).
    ``data_type`` casts rewrite that column only (schema_evolution.rs cast):
    composed as add(cast) → drop(old) → rename — three commits, one
    column-group write, zero rewrites of other columns."""
    from lance_spark.dataset import LanceDataset

    casts = [a for a in alterations if "data_type" in a]
    alterations = [a for a in alterations if "data_type" not in a]
    for alt in casts:
        assert spark is not None, "data_type cast needs a SparkSession"
        col, dtype = alt["path"], alt["data_type"]
        tmp = f"{col}__cast"
        ds = add_columns(ds, spark, {tmp: f"CAST(`{col}` AS {dtype})"})
        ds = drop_columns(ds, [col])
        ds = alter_columns(ds, {"path": tmp, "rename": alt.get("rename", col)})
    if not alterations:
        return ds

    def build(base: mf.Manifest | None, version: int) -> mf.Manifest:
        assert base is not None
        schema_json = dict(base.schema_json)
        fields = [dict(f) for f in schema_json["fields"]]
        renames = dict(base.config.get("column_renames", {}))
        for alt in alterations:
            path = alt["path"]
            for f in fields:
                if f["name"] == path:
                    if "rename" in alt:
                        if any(
                            g["name"] == alt["rename"] for g in fields if g is not f
                        ):
                            # a duplicate field name makes every later
                            # select ambiguous (r12 review)
                            raise ValueError(
                                f"column {alt['rename']!r} already exists"
                            )
                        # REVERSE-value lookup: renames maps physical →
                        # logical, so a second rename (b→c after a→b) must
                        # resolve b back to the file's physical 'a' — the
                        # old KEY lookup detached the column from its data
                        # file permanently (r12 review)
                        physical = next(
                            (k for k, v in renames.items() if v == path), path
                        )
                        renames = {k: v for k, v in renames.items() if v != path}
                        renames[physical] = alt["rename"]
                        f["name"] = alt["rename"]
                    if "nullable" in alt:
                        f["nullable"] = alt["nullable"]
                    break
            else:
                raise ValueError(f"no such column: {path}")
        schema_json["fields"] = fields
        cfg = dict(base.config)
        cfg["column_renames"] = renames
        # a renamed blob column must keep its blob status; indexes follow
        # their column's new logical name too (the stale IndexMeta.column
        # crashed optimize_indices and unmatched query-time lookups; r12)
        logical_renames = {a["path"]: a["rename"] for a in alterations if "rename" in a}
        indices = [
            mf.IndexMeta(
                name=i.name, index_type=i.index_type,
                column=logical_renames.get(i.column, i.column),
                path=i.path, fragment_ids=i.fragment_ids, params=i.params,
            )
            if i.column in logical_renames
            else i
            for i in base.indices
        ]
        return mf.Manifest.evolve(
            base, version, operation="alter_columns",
            schema_json=schema_json, config=cfg, indices=indices,
            blob_columns=[logical_renames.get(c, c) for c in base.blob_columns],
        )

    mf.commit(ds.uri, build, operation="alter_columns")
    return LanceDataset(ds.uri)
