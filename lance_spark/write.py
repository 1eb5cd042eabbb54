"""Distributed fragment write + commit.

This is the reference's two-phase distributed write re-expressed in Spark's
native execution model (python/python/lance/fragment.py:889 `write_fragments`
+ dataset.py:3059-3318 `commit`): executors each write one immutable parquet
fragment file (with a materialized ``_rowid`` column) as a task side-output
and return only fragment *metadata*; the driver commits a manifest referencing
the metadata. Uncommitted files are invisible garbage (cleaned by
``cleanup_old_versions``), so task retries are safe — exactly Lance's model,
and it scales to any executor count because the driver handles O(fragments)
metadata, never rows.

``_rowid`` = fragment_id << 32 | local_offset (rust/lance-core/src/lib.rs:19-36
row-address semantics, used as the stable id; compaction preserves ids via a
remap, see maintenance.py).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from lance_spark import manifest as mf

ROWID_COL = "_rowid"
ROWADDR_COL = "_rowaddr"
FRAGID_SHIFT = 32

_META_SCHEMA = StructType(
    [
        StructField("fragment_id", LongType()),
        StructField("path", StringType()),
        StructField("physical_rows", LongType()),
        StructField("blob_path", StringType()),
    ]
)


def _fragment_writer(root: str, base_fragment_id: int, data_dir: str = "data",
                     preserve_rowids: bool = False, blob_cols: list[str] | None = None,
                     progress=None, target_roots: list[str] | None = None,
                     non_nullable: list[str] | None = None):
    """Return a mapInArrow function writing one fragment per input partition.

    ``blob_cols`` are split into a second column-group file per fragment
    (out-of-line blob storage, rust/lance-core/src/datatypes.rs:29-75):
    ``{_rowid, <col>, <col>_size}`` — scans that don't touch the blob never
    read its file, and descriptor reads prune to the size column.
    """

    def write_partition(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        part_id = TaskContext.get().partitionId()
        fragment_id = base_fragment_id + part_id
        rel_path = os.path.join(data_dir, f"frag-{fragment_id}-{uuid.uuid4().hex}.parquet")
        if target_roots:
            # multi-base write: fragments round-robin across target bases
            # (reference write target_bases); manifest paths go ABSOLUTE so
            # every reader resolves them without the registry
            wroot = target_roots[part_id % len(target_roots)]
            rel_path = os.path.join(wroot, rel_path)
        abs_path = os.path.join(root, rel_path)
        os.makedirs(os.path.dirname(abs_path), exist_ok=True)
        if progress is not None:
            # task-side begin hook (FragmentWriteProgress contract,
            # progress.py) — fires before any bytes land
            progress.begin({"id": fragment_id, "path": rel_path})
        rel_blob = (
            os.path.join(data_dir, f"frag-{fragment_id}-blob-{uuid.uuid4().hex}.parquet")
            if blob_cols
            else None
        )
        if rel_blob and target_roots:
            rel_blob = os.path.join(target_roots[part_id % len(target_roots)], rel_blob)

        writer = None
        blob_writer = None
        offset = 0
        for batch in batches:
            n = batch.num_rows
            for c in non_nullable or []:
                # nullability enforcement at write (reference
                # test_ingestion.py test_nullability): per-batch null_count
                # is O(metadata) on arrow arrays
                col = batch.column(batch.schema.get_field_index(c))
                if col.null_count:
                    raise ValueError(f"column {c!r} is non-nullable but batch contains nulls")
            if not preserve_rowids:
                rowids = pa.array(
                    np.arange(offset, offset + n, dtype=np.int64)
                    | np.int64(fragment_id << FRAGID_SHIFT)
                )
                batch = pa.RecordBatch.from_arrays(
                    list(batch.columns) + [rowids],
                    schema=batch.schema.append(pa.field(ROWID_COL, pa.int64())),
                )
            if blob_cols:
                rid = batch.column(batch.schema.get_field_index(ROWID_COL))
                blob_arrays, blob_fields = [rid], [pa.field(ROWID_COL, pa.int64())]
                for c in blob_cols:
                    col = batch.column(batch.schema.get_field_index(c))
                    blob_arrays += [col, pc.binary_length(col).cast(pa.int64())]
                    blob_fields += [batch.schema.field(c), pa.field(f"{c}_size", pa.int64())]
                blob_batch = pa.RecordBatch.from_arrays(blob_arrays, schema=pa.schema(blob_fields))
                keep = [i for i, f in enumerate(batch.schema) if f.name not in blob_cols]
                batch = batch.select(keep)
                if blob_writer is None:
                    blob_writer = pq.ParquetWriter(
                        os.path.join(root, rel_blob), blob_batch.schema, compression="zstd"
                    )
                blob_writer.write_batch(blob_batch)
            if writer is None:
                writer = pq.ParquetWriter(abs_path, batch.schema, compression="zstd")
            writer.write_batch(batch)
            offset += n
        if writer is not None:
            writer.close()
        if blob_writer is not None:
            blob_writer.close()
        meta_schema = pa.schema(
            [pa.field("fragment_id", pa.int64()), pa.field("path", pa.string()),
             pa.field("physical_rows", pa.int64()), pa.field("blob_path", pa.string())])
        if offset == 0:
            # empty partition → no fragment
            if progress is not None:
                progress.complete({"id": fragment_id, "path": rel_path})
            yield pa.RecordBatch.from_pylist([], schema=meta_schema)
            return
        if progress is not None:
            progress.complete(
                {"id": fragment_id, "path": rel_path, "physical_rows": offset}
            )
        yield pa.RecordBatch.from_pylist(
            [{"fragment_id": fragment_id, "path": rel_path,
              "physical_rows": offset, "blob_path": rel_blob}],
            schema=meta_schema,
        )

    return write_partition


class _DatasetAppearedConcurrently(Exception):
    """Raised inside the commit builder when a mode='create' commit finds a
    base manifest: another writer created the dataset between the caller's
    existence probe and this commit (streaming/sink.py guards the same
    bootstrap race)."""


def write_fragments(
    df: DataFrame,
    root: str,
    base_fragment_id: int,
    max_rows_per_fragment: int | None = None,
    preserve_rowids: bool = False,
    blob_columns: list[str] | None = None,
    progress=None,
    target_roots: list[str] | None = None,
    total_rows: int | None = None,
) -> list[mf.Fragment]:
    """Write df's partitions as fragments; return metadata (no commit).

    One Spark partition → one fragment. Callers control fragment sizing via
    the df's partitioning (e.g. ``df.repartition(n)``) or
    ``max_rows_per_fragment``. ``preserve_rowids`` keeps an existing _rowid
    column (compaction: stable ids, rowids.rs:55 semantics). ``total_rows``
    lets a caller that already counted skip the second full count job.
    """
    missing_blobs = set(blob_columns or []) - set(df.columns)
    if missing_blobs:
        # without this, get_field_index(-1) inside every executor task
        # silently grabs the LAST column (the appended _rowid) and fails
        # deep in the job with an opaque Arrow error
        raise ValueError(f"blob_columns not in input columns: {sorted(missing_blobs)}")
    if preserve_rowids:
        assert ROWID_COL in df.columns, "preserve_rowids requires _rowid column"
    elif ROWID_COL in df.columns:
        df = df.drop(ROWID_COL)
    if max_rows_per_fragment is not None:
        total = total_rows if total_rows is not None else df.count()
        parts = max(1, -(-total // max_rows_per_fragment))
        df = df.repartition(parts)
    meta_rows = (
        df.mapInArrow(
            _fragment_writer(
                root, base_fragment_id, preserve_rowids=preserve_rowids,
                blob_cols=blob_columns, progress=progress,
                target_roots=target_roots,
                non_nullable=[f.name for f in df.schema.fields if not f.nullable],
            ),
            _META_SCHEMA,
        )
        .collect()
    )
    blob_set = set(blob_columns or [])
    user_cols = [c for c in df.columns if c != ROWID_COL and c not in blob_set]
    frags = []
    for r in meta_rows:
        if r.physical_rows == 0:
            continue
        files = [mf.DataFile(path=r.path, columns=user_cols)]
        if r.blob_path:
            files.append(mf.DataFile(path=r.blob_path, columns=sorted(blob_set)))
        frags.append(
            mf.Fragment(id=r.fragment_id, files=files, physical_rows=r.physical_rows)
        )
    return sorted(frags, key=lambda f: f.id)


def commit_fragments(
    uri: str,
    fragments: list[mf.Fragment],
    schema_json: dict | None = None,
    operation: str = "append",
) -> "mf.Manifest":
    """Public distributed-commit API (python/python/lance/fragment.py:889
    write_fragments + dataset.py:3059 LanceDataset.commit): any process that
    produced fragment files — another Spark job, a non-Spark writer — hands
    the driver its fragment metadata and the driver commits one version.
    Pair with ``write_fragments(df, uri, base_fragment_id)``; reserve ids via
    ``manifest.reserve_fragment_ids`` when writers run concurrently."""

    def build(base: mf.Manifest | None, version: int) -> mf.Manifest:
        if operation == "append" and base is not None:
            all_frags = base.fragments + fragments
            # evolve carries indices/config/blob_columns/bases forward
            return mf.Manifest.evolve(
                base, version, operation=operation,
                fragments=all_frags,
                max_fragment_id=max([f.id for f in all_frags] + [base.max_fragment_id]),
            )
        assert schema_json is not None, "create/overwrite commit needs schema_json"
        return mf.Manifest(
            version=version,
            schema_json=schema_json,
            fragments=fragments,
            max_fragment_id=max(
                [f.id for f in fragments] + ([base.max_fragment_id] if base else [-1])
            ),
            operation=operation,
            bases=base.bases if base else [],
        )

    os.makedirs(uri, exist_ok=True)
    return mf.commit(uri, build, operation=operation)


def input_to_spark_df(df) -> DataFrame:
    """ReaderLike ingest breadth (reference write path): Spark DataFrame
    passes through; list-of-dicts / HuggingFace dataset / pandas / arrow
    Table convert via the arrow type normalizer (types.py)."""
    import pandas as pd
    import pyarrow as pa

    if isinstance(df, list) and df and isinstance(df[0], dict):
        # iterable-of-dicts ingest (reference ReaderLike breadth)
        df = pa.Table.from_pylist(df)
    if type(df).__module__.split(".")[0] == "datasets":
        # HuggingFace datasets.Dataset (reference hf.py:1 — arrow-backed);
        # guarded by module name so the lib stays an optional dependency
        df = pa.table(df.data.table)
    if isinstance(df, pa.RecordBatchReader):
        df = df.read_all()
    if isinstance(df, pa.RecordBatch):
        df = pa.Table.from_batches([df])
    if isinstance(df, pd.DataFrame):
        df = pa.Table.from_pandas(df, preserve_index=False)
    if isinstance(df, pa.Table):
        from pyspark.sql import SparkSession

        from lance_spark.types import normalize_arrow_table

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("arrow/pandas write input needs an active SparkSession")
        df = spark.createDataFrame(normalize_arrow_table(df))
    if not isinstance(df, DataFrame):
        # surface the mistake at the API boundary, not as an opaque
        # AttributeError three calls later
        raise TypeError(
            "unsupported write input type "
            f"{type(df).__name__}: expected a Spark DataFrame, pyarrow "
            "Table/RecordBatch/RecordBatchReader, pandas DataFrame, "
            "HuggingFace dataset, or a non-empty list of dicts"
        )
    return df


def commit_batch(
    dest,
    transactions: list[dict],
    max_retries: int = 20,
    properties: dict | None = None,
) -> dict:
    """Merge several transactions into ONE new version (reference
    dataset.py:3225 ``commit_batch`` → BulkCommitResult). Like the
    reference, only append transactions merge; each transaction is
    ``{"operation": "append", "fragments": [manifest.Fragment, ...]}`` —
    the shape ``write_fragments`` returns. The merged commit is atomic:
    either every transaction's fragments appear in the new version or none
    do.
    """
    from lance_spark.operation import LanceOperation, Transaction

    uri = dest.uri if hasattr(dest, "uri") else str(dest)
    merged: list[mf.Fragment] = []
    for tx in transactions:
        # accept both the dict shape write_fragments returns and typed
        # Transaction objects (the reference's commit_batch input)
        if isinstance(tx, Transaction):
            inner = tx.operation
            if not isinstance(inner, LanceOperation.Append):
                raise NotImplementedError(
                    "commit_batch merges append transactions only (reference "
                    "parity: dataset.py:3250)"
                )
            merged.extend(inner.fragments)
            continue
        op = tx.get("operation", "append")
        if op != "append":
            raise NotImplementedError(
                "commit_batch merges append transactions only (reference parity: "
                "dataset.py:3250 'Only append transactions are currently supported')"
            )
        merged.extend(tx["fragments"])

    def build(base: mf.Manifest | None, version: int) -> mf.Manifest:
        assert base is not None, "commit_batch appends to an existing dataset"
        return mf.Manifest.evolve(
            base,
            version,
            operation="append",
            fragments=base.fragments + merged,
            max_fragment_id=max([f.id for f in merged] + [base.max_fragment_id]),
        )

    mf.commit(uri, build, operation="append", max_retries=max_retries, properties=properties)
    from lance_spark.dataset import LanceDataset

    return {
        "dataset": LanceDataset(uri),
        "merged": {"operation": "append", "fragments": merged},
    }


def project_to_schema(df, schema):
    """Reference ``write_dataset(schema=...)`` semantics: project AND cast
    the input to the declared schema (arrow or Spark StructType) — extra
    input columns are dropped, missing ones are a clear error. Shared by
    write_dataset and LanceFragment.create so worker-written fragments
    can't diverge in parquet types from the schema a coordinator commits."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType as _St

    if not isinstance(schema, _St):
        from pyspark.sql.pandas.types import from_arrow_type

        schema = _St.fromJson(
            {"type": "struct",
             "fields": [
                 {"name": f.name,
                  "type": from_arrow_type(f.type).jsonValue(),
                  "nullable": f.nullable, "metadata": {}}
                 for f in schema
             ]}
        )
    missing = [f.name for f in schema.fields if f.name not in df.columns]
    if missing:
        raise ValueError(f"declared schema columns missing from input: {missing}")
    return df.select(
        *[F.col(f.name).cast(_nested_nullable(f.dataType)) for f in schema.fields]
    )


def _nested_nullable(dt):
    """``dt`` with every nested nullability flag set. Parquet reads always
    come back with nullable elements, values and fields, and Spark refuses
    to cast those to a non-nullable nested type even when no null is
    present (rows read back from a dataset could not be appended to it)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, ArrayType):
        return ArrayType(_nested_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(dt.keyType, _nested_nullable(dt.valueType), True)
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nested_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    return dt


def write_dataset(
    df: DataFrame,
    uri: str,
    mode: str = "create",
    max_rows_per_fragment: int | None = None,
    blob_columns: list[str] | None = None,
    initial_bases: list | None = None,
    target_bases: list[str] | None = None,
    max_rows_per_file: int | None = None,
    schema=None,
    progress=None,
    commit_lock=None,
    storage_options: dict | None = None,
    auto_cleanup_options: dict | None = None,
):
    """modes per rust/lance/src/dataset/write.rs:115-131: create/append/overwrite.

    ``df`` may be a Spark DataFrame or a ``pyarrow.Table`` (the reference's
    primary write input, dataset.py write_dataset) — arrow tables pass
    through the type normalizer (types.py: dictionary decode, bfloat16 →
    float32, large_*/fixed_size_list mappings) before entering Spark.

    Multi-base layout (reference DatasetBasePath / target_bases):
    ``initial_bases`` registers named storage roots at create time (append/
    overwrite inherit the registry); ``target_bases`` names (or raw paths
    of) the bases this write's fragments round-robin across. Manifests stay
    under the primary ``uri``; base-resident data files carry absolute
    paths. ``max_rows_per_file`` is the reference's name for
    ``max_rows_per_fragment``.
    """
    from lance_spark.dataset import LanceDataset

    if mode not in ("create", "append", "overwrite"):
        # an unknown mode must never reach the commit builder: it would
        # fall through the create/append branches and commit ONLY the new
        # fragments — silently truncating an existing dataset (r11 review)
        raise ValueError(
            f"unknown write mode {mode!r}: use 'create', 'append' or 'overwrite'"
        )
    df = input_to_spark_df(df)
    if schema is not None:
        df = project_to_schema(df, schema)
    # _rowid/_rowaddr are engine-reserved: the fragment writer regenerates
    # rowids, so committing an incoming copy in the schema would register a
    # phantom user column the data files don't carry
    for reserved in (ROWID_COL, ROWADDR_COL):
        if reserved in df.columns:
            df = df.drop(reserved)

    if max_rows_per_fragment is None:
        max_rows_per_fragment = max_rows_per_file
    os.makedirs(uri, exist_ok=True)
    requested_mode = mode
    existing = mf.latest_version(uri)
    if mode == "create" and existing is not None:
        raise ValueError(f"dataset already exists at {uri}; use append or overwrite")
    if mode == "append" and existing is None:
        mode = "create"
    if auto_cleanup_options is not None:
        if mode == "append":
            # reference docs: auto_cleanup_params "only takes effect when
            # creating a new dataset, it has no effect on existing
            # datasets" — never silently rewrite an existing GC policy
            mf._log().warning(
                "auto_cleanup_options ignored on append to %s (it only "
                "takes effect when creating a new dataset)", uri,
            )
            auto_cleanup_options = None
        else:
            # validated at set time so a bad value never enters the
            # manifest — the commit-time GC hook never raises
            mf.validate_auto_cleanup_config({
                "lance.auto_cleanup.interval": auto_cleanup_options["interval"],
                "lance.auto_cleanup.older_than":
                    f"{auto_cleanup_options['older_than_seconds']}s",
                "lance.auto_cleanup.retain_versions":
                    auto_cleanup_options.get("retain_versions"),
            })

    # multi-base registry: create takes initial_bases; append/overwrite
    # inherit the existing registry (reference overwrite-inherits test)
    if mode == "create" or existing is None:
        bases_json = [
            (b if isinstance(b, mf.DatasetBasePath) else mf.DatasetBasePath.from_json(b)).to_json()
            for b in (initial_bases or [])
        ]
    else:
        bases_json = list(mf.read_manifest(uri).bases)
        for b in initial_bases or []:
            bj = (b if isinstance(b, mf.DatasetBasePath) else mf.DatasetBasePath.from_json(b)).to_json()
            if bj["name"] not in {x["name"] for x in bases_json}:
                bases_json.append(bj)
    target_roots = None
    if target_bases:
        by_name = {b["name"]: b["path"] for b in bases_json}
        known_paths = {b["path"] for b in bases_json}
        target_roots = []
        for t in target_bases:
            if t in by_name:
                target_roots.append(os.path.abspath(by_name[t]))
            elif t in known_paths or os.path.isabs(t):
                # reference also accepts the base's path/URI directly
                target_roots.append(os.path.abspath(t))
            else:
                raise ValueError(f"unknown target base: {t!r} (registered: {sorted(by_name)})")

    total_rows = None
    if mode in ("create", "overwrite"):
        schema_json = df.schema.jsonValue()
        base_fragment_id = 0
    else:
        base = mf.read_manifest(uri)
        if [f["name"] for f in base.schema_json["fields"]] != df.columns:
            raise ValueError(
                f"append schema mismatch: dataset has "
                f"{[f['name'] for f in base.schema_json['fields']]}, df has {df.columns}"
            )
        # names match — now cast to the DATASET types and keep ITS schema:
        # committing the incoming df's schema_json would silently flip the
        # dataset schema on type drift (e.g. long→string from CSV) while
        # old fragments keep the original physical type, failing every
        # later unified scan (mutation.py's update path casts the same way)
        from pyspark.sql.types import StructType as _St

        df = project_to_schema(df, _St.fromJson(base.schema_json))
        schema_json = base.schema_json
        # reserve disjoint fragment ids so concurrent appends never collide
        # (rowids embed the fragment id, so a late rebase would mean a file
        # rewrite; reservation is a metadata-only commit instead)
        n_parts = df.rdd.getNumPartitions()
        if max_rows_per_fragment is not None:
            total_rows = df.count()
            n_parts = max(n_parts, -(-total_rows // max_rows_per_fragment))
        else:
            # pin the partition count: AQE may re-plan the write job with
            # MORE partitions than the probe saw, pushing fragment ids past
            # the reservation into a range another writer may hold
            # (mutation.py's append pin)
            df = df.coalesce(max(n_parts, 1))
        base_fragment_id = mf.reserve_fragment_ids(uri, max(n_parts, 1))

    if mode == "append" and existing is not None:
        registered = mf.read_manifest(uri).blob_columns or []
        if blob_columns and sorted(blob_columns) != sorted(registered):
            # the blob layout is dataset-wide: swapping the registry on
            # append would make older rows' sidecars unreachable
            raise ValueError(
                f"append blob_columns {sorted(blob_columns)} != dataset blob "
                f"registry {sorted(registered)}; the blob layout is fixed at "
                "create time"
            )
        blob_columns = registered or None

    frags = write_fragments(
        df, uri, base_fragment_id, max_rows_per_fragment, blob_columns=blob_columns,
        target_roots=target_roots, progress=progress, total_rows=total_rows,
    )

    initial_bases_json = [
        (b if isinstance(b, mf.DatasetBasePath) else mf.DatasetBasePath.from_json(b)).to_json()
        for b in (initial_bases or [])
    ]

    def _merged_bases(current: list[dict]) -> list[dict]:
        out = list(current)
        names = {x["name"] for x in out}
        for bj in initial_bases_json:
            if bj["name"] not in names:
                out.append(bj)
        return out

    def build(base: mf.Manifest | None, version: int) -> mf.Manifest:
        if mode == "create" and base is not None:
            # another writer created the dataset between our existence probe
            # and this commit: our fragments are numbered from 0 and would
            # collide — never blindly overwrite their version
            raise _DatasetAppearedConcurrently(uri)
        if mode == "append" and base is not None:
            # evolve carries config/indices/blob_columns/bases forward — the
            # raw constructor with pre-read snapshots would revert registry
            # or config commits that landed since our probe (r11 review).
            # Bases merge against the FRESH manifest at commit time.
            all_frags = base.fragments + frags  # reserved ids → disjoint
            return mf.Manifest.evolve(
                base, version, operation="append",
                fragments=all_frags,
                max_fragment_id=max(
                    [f.id for f in all_frags] + [base.max_fragment_id]
                ),
                bases=_merged_bases(base.bases),
            )
        cfg: dict = {}
        if auto_cleanup_options is not None:
            # reference dataset.py:5093 auto_cleanup_options on write:
            # store the GC policy in the dataset config at create time
            cfg["lance.auto_cleanup.interval"] = str(auto_cleanup_options["interval"])
            cfg["lance.auto_cleanup.older_than"] = (
                f"{auto_cleanup_options['older_than_seconds']}s"
            )
            if auto_cleanup_options.get("retain_versions") is not None:
                cfg["lance.auto_cleanup.retain_versions"] = str(
                    auto_cleanup_options["retain_versions"]
                )
        # overwrite inherits the LIVE registry (+ any initial additions);
        # create starts from the initial list
        bases = (
            _merged_bases(base.bases)
            if mode == "overwrite" and base is not None
            else list(initial_bases_json)
        )
        return mf.Manifest(
            version=version,
            schema_json=schema_json,
            fragments=frags,
            max_fragment_id=max((f.id for f in frags), default=-1),
            operation=mode,
            indices=[],
            config=cfg,
            blob_columns=sorted(blob_columns) if blob_columns else [],
            bases=bases,
        )

    try:
        mf.commit(uri, build, operation=mode, commit_lock=commit_lock)
    except _DatasetAppearedConcurrently:
        if requested_mode == "append":
            # the bootstrap create lost the race — rerun as a true append:
            # fresh fragment-id reservation, fragments rewritten without
            # collisions (our first attempt's files become GC-able orphans)
            return write_dataset(
                df, uri, mode="append",
                max_rows_per_fragment=max_rows_per_fragment,
                blob_columns=blob_columns, progress=progress,
                target_bases=target_bases, initial_bases=initial_bases,
                storage_options=storage_options, commit_lock=commit_lock,
            )
        raise ValueError(
            f"dataset appeared concurrently at {uri}; use append or overwrite"
        ) from None
    return LanceDataset(uri, storage_options=storage_options)
