"""LanceDataset — versioned dataset handle + scanner surface.

Mirrors the reference API surface (python/python/lance/dataset.py:402
`LanceDataset`, :666-899 scanner options, :3450-3639 `sql`) re-expressed as
DataFrame construction:

  - scan = parquet scan of the fragment files, schema from the manifest —
    no footer inference; Catalyst pushes filters and projections into the
    parquet scan (the role of FilteredReadExec,
    rust/lance/src/io/exec/filtered_read.rs).
  - deletion files = broadcast anti-join on ``_rowid`` (DeletionFile
    semantics, rust/lance-table/src/format/fragment.rs:185-208).
  - column groups (add_columns schema evolution) = equi-join on ``_rowid``
    between the fragment's data files (fragment.rs:27 DataFile).
  - time travel = manifest selection at open (dataset.py:2094-2153).

All reads construct lazy DataFrames; nothing is collected here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from lance_spark import manifest as mf
from lance_spark.io import ROWID_SCHEMA, local_df, read_table
from lance_spark.write import FRAGID_SHIFT, ROWADDR_COL, ROWID_COL


from dataclasses import dataclass


@dataclass
class FieldStatistics:
    """Per-field physical size (reference dataset.py:5018)."""

    id: int
    bytes_on_disk: int


@dataclass
class DataStatistics:
    """Dataset-wide field statistics (reference dataset.py:5026)."""

    fields: list


def dataset(
    uri: str,
    version: int | None = None,
    tag: str | None = None,
    branch: str | None = None,
    storage_options: dict | None = None,
    storage_options_provider=None,
) -> "LanceDataset":
    if tag is not None:
        version = mf.resolve_tag(uri, tag)
    elif branch is not None:
        version = mf.resolve_ref(uri, "branches", branch)
    return LanceDataset(
        uri,
        version=version,
        storage_options=storage_options,
        storage_options_provider=storage_options_provider,
    )


#: Config keys a ``replace=True`` config update must never clobber: the
#: metadata namespaces (reference semantics) plus the FORMAT flags the
#: engine itself maintains — losing ``rowid_address_style`` re-enables the
#: rid>>32 fast paths on a compacted dataset (silently wrong take/delete),
#: losing ``column_renames`` detaches renamed columns from their files.
_PROTECTED_CONFIG_KEYS = (
    "schema_metadata",
    "table_metadata",
    "rowid_address_style",
    "column_renames",
    "data_storage_version",
)


class LanceDataset:
    def __init__(
        self,
        uri: str,
        version: int | None = None,
        storage_options: dict | None = None,
        storage_options_provider=None,
    ):
        self.uri = os.path.abspath(uri)
        # Credential seam (reference dataset.py:413-480): a provider is
        # queried at open — the refresh point for time-limited object-store
        # credentials. The local-fs backend consumes no options; they are
        # resolved, kept, and carried to checkout/restore-derived handles
        # (handles returned by module-level mutations re-open plain) so an
        # object-store filesystem layer can plug in (see lance_spark.io).
        self._explicit_storage_options = dict(storage_options or {})
        if storage_options_provider is not None:
            fetched = storage_options_provider.fetch_storage_options()
            storage_options = {**fetched, **(storage_options or {})}
        self.storage_options = storage_options or {}
        self._storage_options_provider = storage_options_provider
        self.manifest = mf.read_manifest(self.uri, version)

    def _derived(self, version: int | None = None) -> "LanceDataset":
        """Re-open at ``version`` keeping the credential seam: the provider
        is re-queried (its refresh point beats stale cached credentials)
        and only the user's EXPLICIT options carry as overrides."""
        return LanceDataset(
            self.uri,
            version=version,
            storage_options=self._explicit_storage_options or None,
            storage_options_provider=self._storage_options_provider,
        )

    # ------------------------------------------------------------ metadata

    @property
    def version(self) -> int:
        return self.manifest.version

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(self.manifest.schema_json)

    @property
    def lance_schema(self):
        """The format-native schema handle (reference dataset.py:911
        ``lance_schema`` → LanceSchema) — the object typed commits carry."""
        from lance_spark.types import LanceSchema

        return LanceSchema(self.manifest.schema_json)

    @property
    def columns(self) -> list[str]:
        return [f["name"] for f in self.manifest.schema_json["fields"]]

    @property
    def max_field_id(self) -> int:
        """Highest field ordinal in the current schema (reference
        dataset.py:925 ``max_field_id``). Fields here are addressed by name,
        not id, so this is the current top-level arity minus one."""
        return len(self.manifest.schema_json["fields"]) - 1

    @property
    def data_storage_version(self) -> str:
        """Storage-format tag (reference dataset.py:918). The physical layer
        here is parquet fragments + JSON manifests."""
        return self.manifest.config.get("data_storage_version", "parquet-1.0")

    @staticmethod
    def drop(base_uri: str, ignore_not_found: bool = False) -> None:
        """Delete a dataset in place (reference dataset.py:3488 ``drop``)."""
        import shutil

        target = os.path.abspath(base_uri)
        if not os.path.isdir(os.path.join(target, "_versions")):
            if ignore_not_found:
                return
            raise FileNotFoundError(f"not a lance_spark dataset: {base_uri}")
        shutil.rmtree(target)
        mf.invalidate_root(target)

    def versions(self) -> list[dict]:
        out = []
        for v in mf.list_versions(self.uri):
            m = mf.read_manifest(self.uri, v)
            out.append({"version": v, "timestamp": m.timestamp, "operation": m.operation})
        return out

    def checkout_version(self, version: int) -> "LanceDataset":
        return self._derived(version=version)

    def latest_version(self) -> int:
        """Latest committed version number (reference dataset.py:2117) —
        O(1) directory listing, independent of the checked-out version."""
        lv = mf.latest_version(self.uri)
        return self.manifest.version if lv is None else lv

    # -- pyarrow-dataset-interface stubs the reference also raises on
    # (reference dataset.py:1080-1096; kept so call sites port verbatim)
    def join(self, *args, **kwargs):
        raise NotImplementedError(
            "join is not supported on a dataset handle; use ds.sql or Spark joins"
        )

    def partition_expression(self):
        raise NotImplementedError("partitioning not yet supported")

    def replace_schema(self, schema):
        raise NotImplementedError(
            "Cannot replace the schema of a dataset; use replace_schema_metadata "
            "or replace_field_metadata"
        )

    def migrate_manifest_paths_v2(self) -> None:
        """Idempotent manifest-path migration (reference dataset.py:3371).
        Our manifests have exactly one path scheme (_versions/<n>.json), so
        this is a documented no-op kept for call-site compatibility."""
        return None

    def merge_index_metadata(self, index_uuid: str, index_type: str,
                             batch_readhead: int | None = None):
        """Reference dataset.py:3006 merges an UNCOMMITTED native index
        build into the dataset. Here the staged equivalent is
        ``lance_spark.indices.IndicesBuilder.load_shuffled_vectors`` —
        assemble + commit in one step — so this entry point only redirects."""
        raise NotImplementedError(
            "uncommitted-index merging is performed by "
            "IndicesBuilder.load_shuffled_vectors (lance_spark.indices)"
        )

    # reference exposes commit/commit_batch as LanceDataset staticmethods
    # (dataset.py:3059, 3225) as well as module-level functions
    @staticmethod
    def commit(dest, operation, read_version: int | None = None,
               properties: dict | None = None, max_retries: int = 20) -> "LanceDataset":
        from lance_spark.operation import commit as _commit

        return _commit(dest, operation, read_version=read_version,
                       properties=properties, max_retries=max_retries)

    @staticmethod
    def commit_batch(dest, transactions, max_retries: int = 20,
                     properties: dict | None = None) -> dict:
        from lance_spark.write import commit_batch as _commit_batch

        return _commit_batch(dest, transactions, max_retries=max_retries,
                             properties=properties)

    def restore(self) -> "LanceDataset":
        """Make the currently checked-out version the latest (Operation::Restore,
        rust/lance/src/dataset/transaction.rs:215)."""
        snap = self.manifest

        def build(base, version):
            return mf.Manifest.evolve(snap, version, operation="restore")

        mf.commit(self.uri, build, operation="restore")
        return self._derived()

    # tags + branches (dataset.py:539-645; refs.rs). A branch is a named,
    # movable ref like a tag; checkout via dataset(uri, branch=...).
    def create_branch(self, name: str, version: int | None = None) -> None:
        mf.create_ref(self.uri, "branches", name, version if version is not None else self.version)

    def update_branch(self, name: str, version: int) -> None:
        mf.update_ref(self.uri, "branches", name, version)

    def delete_branch(self, name: str) -> None:
        mf.delete_ref(self.uri, "branches", name)

    @property
    def branches(self) -> "Branches":
        """Branch manager (reference dataset.py:567 ``ds.branches``):
        callable for the original ``ds.branches()`` dict form, plus the
        reference's list/list_ordered/delete manager methods."""
        return Branches(self)

    def create_tag(self, name: str, version: int | None = None) -> None:
        mf.create_tag(self.uri, name, version if version is not None else self.version)

    def delete_tag(self, name: str) -> None:
        mf.delete_tag(self.uri, name)

    def update_tag(self, name: str, version: int) -> None:
        mf.update_tag(self.uri, name, version)

    @property
    def tags(self) -> "Tags":
        """Tag manager (reference dataset.py:4888 ``Tags``): dict-like AND
        callable, so both the reference's ``ds.tags.get_version(t)`` /
        ``ds.tags.list()`` and this repo's original ``ds.tags()`` form
        work. Live view — re-reads the refs on every access."""
        return Tags(self)

    def scanner_builder(self, spark: SparkSession | None = None) -> "ScannerBuilder":
        """Fluent scan construction (reference ScannerBuilder,
        dataset.py:4180): ``ds.scanner_builder().filter(...).limit(10)
        .to_scanner()``."""
        from lance_spark.scanner import ScannerBuilder

        return ScannerBuilder(self, spark)

    # ------------------------------------------------------------ read path

    def _abs(self, rel: str) -> str:
        # multi-base data files carry absolute paths (manifest.bases);
        # os.path.join passes absolute second args through unchanged
        return os.path.join(self.uri, rel)

    def _read_files(self, spark: SparkSession, paths: list[str]) -> DataFrame:
        """Scan data or deletion files of this version; the files of one
        call share a layout, so the first path's catalog schema serves all."""
        schema = self._file_schemas().get(paths[0])
        return read_table(spark, [self._abs(p) for p in paths], schema)

    def _file_schemas(self) -> dict[str, StructType]:
        """{file path: physical schema} for every data and deletion file of
        this version, from the manifest alone: the file's ``DataFile.columns``
        (physical names) typed through ``column_renames`` and the schema,
        blob sizes beside blob columns, plus ``_rowid``."""
        cached = self.__dict__.get("_file_schema_cache")
        if cached is not None and cached[0] is self.manifest:
            return cached[1]
        m = self.manifest
        renames = m.config.get("column_renames", {})
        fields = {f["name"]: f for f in m.schema_json["fields"]}
        blobs = set(m.blob_columns or [])
        by_layout: dict[tuple, StructType] = {}

        def layout_schema(cols: tuple) -> StructType:
            out = StructType()
            for phys in cols:
                logical = renames.get(phys, phys)
                f = fields.get(logical)
                if f is None:
                    continue  # dropped: the bytes stay, the schema forgets them
                out.add(StructField.fromJson({"name": phys, "type": f["type"],
                                              "nullable": True, "metadata": {}}))
                if logical in blobs:
                    out.add(f"{phys}_size", LongType())
            return out.add(ROWID_COL, LongType())

        out: dict[str, StructType] = {}
        for frag in m.fragments:
            for df in frag.files:
                key = tuple(df.columns)
                if key not in by_layout:
                    by_layout[key] = layout_schema(key)
                out[df.path] = by_layout[key]
            if frag.deletion_file:
                out[frag.deletion_file] = ROWID_SCHEMA
        self.__dict__["_file_schema_cache"] = (m, out)
        return out

    def _fragment_df(
        self, spark: SparkSession, fragments: list[mf.Fragment], columns: list[str] | None,
        include_deleted: bool = False,
    ) -> DataFrame:
        """Assemble the logical table from fragment files + deletions.

        Fragments whose file layout matches are scanned together in ONE
        parquet read (one scan node → full parallelism); differing
        column-group layouts are unioned. Deletions from all fragments are
        applied with a single broadcast anti-join on _rowid.
        """
        if not fragments:
            return local_df(spark, [], self.schema).withColumn(ROWID_COL, F.lit(0).cast("long"))

        # group fragments by file-layout signature
        by_layout: dict[tuple, list[mf.Fragment]] = {}
        for frag in fragments:
            sig = tuple(tuple(f.columns) for f in frag.files)
            by_layout.setdefault(sig, []).append(frag)

        needed = set(columns) if columns is not None else set(self.columns)
        # files keep physical names; manifest renames are metadata-only
        # (schema_evolution.rs:74+) — translate logical→physical for pruning
        renames = self.manifest.config.get("column_renames", {})
        logical_to_phys = {v: k for k, v in renames.items()}
        phys_needed = {logical_to_phys.get(c, c) for c in needed}
        pieces = []
        for sig, frags in by_layout.items():
            # column-group pruning: read only the files that hold requested
            # columns — a scan that skips the blob/wide group never opens it
            # (late-materialization payoff, scanner.rs:1579-1654)
            wanted = [gi for gi, cols in enumerate(sig) if phys_needed & set(cols)] or [0]
            if include_deleted and 0 not in wanted:
                # the base file (group 0) is the authoritative PHYSICAL row
                # set; column-group files written after a delete hold only
                # then-live rows, so they must never define the row universe
                wanted = [0, *wanted]
            base = self._read_files(spark, [fr.files[wanted[0]].path for fr in frags])
            for gi in wanted[1:]:
                extra = self._read_files(spark, [fr.files[gi].path for fr in frags])
                # column-group zip: equi-join on _rowid; co-partitioned by
                # file so AQE turns this into a local join at scale. Under
                # include_deleted the join is LEFT: an inner join would drop
                # physically-present deleted rows absent from a younger
                # column group (columns added post-delete read as null),
                # desyncing fragment.update's base-file rewrite from
                # physical_rows.
                base = base.join(
                    extra, on=ROWID_COL, how="left" if include_deleted else "inner"
                )
            keep = [c for c in base.columns if c in phys_needed or c == ROWID_COL]
            pieces.append(base.select(*keep))
        df = pieces[0]
        for p in pieces[1:]:
            df = df.unionByName(p, allowMissingColumns=False)

        # alter_columns renames are metadata-only: files keep physical names,
        # the manifest maps physical→logical (schema_evolution.rs:74+)
        for physical, logical in self.manifest.config.get("column_renames", {}).items():
            if physical in df.columns:
                df = df.withColumnRenamed(physical, logical)

        del_paths = [] if include_deleted else [f.deletion_file for f in fragments if f.deletion_file]
        if del_paths:
            dels = self._read_files(spark, del_paths).select(ROWID_COL)
            df = df.join(F.broadcast(dels), on=ROWID_COL, how="left_anti")

        ordered = columns if columns is not None else self.columns
        return df.select(*ordered, ROWID_COL)

    def to_df(self, spark: SparkSession, with_row_id: bool = False) -> DataFrame:
        return self.scanner(spark, with_row_id=with_row_id)

    def to_table(
        self,
        spark: SparkSession,
        columns: list[str] | dict[str, str] | None = None,
        filter: str | None = None,  # noqa: A002 - reference API name
        limit: int | None = None,
        offset: int | None = None,
        nearest: dict | None = None,
        with_row_id: bool = False,
    ):
        """The reference's primary read call (dataset.py:666-899 ``to_table``)
        → pyarrow.Table. ``nearest`` follows the reference dict shape:
        {"column", "q", "k", "nprobes", "refine_factor", "use_index"}.
        Materializes on the driver by definition — use ``scanner()`` /
        ``to_batches()`` for anything unbounded."""
        # one code path for both entry points: the scanner handles the
        # nearest dict (q/query key, refine_factor=None, dict projections,
        # with_row_id) — a hand-rolled branch here silently diverged on all
        # four (r11 review)
        df = self.scanner(
            spark, columns=columns, filter=filter, limit=limit, offset=offset,
            with_row_id=with_row_id, nearest=nearest,
        )
        return df.toArrow()

    def scanner(
        self,
        spark: SparkSession,
        columns: list[str] | dict[str, str] | None = None,
        filter: str | None = None,  # noqa: A002 - reference API name
        limit: int | None = None,
        offset: int | None = None,
        with_row_id: bool = False,
        with_row_address: bool = False,
        fragments: list[int] | None = None,
        prefilter_rowids: DataFrame | None = None,
        include_deleted_rows: bool = False,
        order_by: list[tuple] | list[str] | None = None,
        late_materialization: bool | list[str] = False,
        nearest: dict | None = None,
        full_text_query=None,
        prefilter: bool = False,
        fast_search: bool = False,
        use_scalar_index: bool | None = None,
        batch_size: int | None = None,
        batch_readahead: int | None = None,
        fragment_readahead: int | None = None,
        io_buffer_size: int | None = None,
        scan_in_order: bool | None = None,
        use_stats: bool | None = None,
        strict_batch_size: bool | None = None,
        scan_stats_callback=None,
        disable_scoring_autoprojection: bool = False,
    ) -> DataFrame:
        """The ScannerBuilder surface (dataset.py:4219-4590) as a DataFrame.

        ``columns`` may be a list of names or a {name: sql_expr} dict
        (projection with computed expressions, scanner.rs:708-742).
        ``offset`` without a sort is defined on _rowid order (scan order),
        matching the reference's scan-range semantics (scanner.rs:1707-1734).
        ``order_by`` entries are column names or (column, "asc"|"desc"
        [, "nulls_first"|"nulls_last"]) tuples — ColumnOrdering semantics
        (scanner.rs:136-176). With ``late_materialization`` and a limit, the
        top-k runs over (sort columns, _rowid) only and the remaining
        columns are fetched by a _rowid join afterwards (TakeExec role,
        scanner.rs:1579-1654) — at 100 TB the wide columns are read for k
        rows, not N.

        ``nearest`` / ``full_text_query`` route through the vector / FTS
        search paths (scanner nearest + fts surface, dataset.py:4420-4501);
        ``prefilter`` chooses whether ``filter`` restricts candidates
        BEFORE the search (k matching rows return) or trims its results
        after. ``batch_size`` / ``*_readahead`` / ``io_buffer_size`` /
        ``scan_in_order`` / ``use_stats`` / ``strict_batch_size`` are
        accepted for call-site compatibility and intentionally ignored:
        batch shaping and IO scheduling belong to Spark's scan machinery
        (maxPartitionBytes, AQE), which replaces the reference's hand-tuned
        readahead. ``use_scalar_index`` False is honored by this scan path
        unconditionally (Catalyst's parquet stats pushdown plays the
        BTREE/ZONEMAP role); explicit scalar-index routing lives in
        ``scan_with_index``.
        """
        if filter is not None and not isinstance(filter, str):
            import pyarrow as pa

            if isinstance(filter, (bytes, bytearray, memoryview, pa.Buffer)):
                filter = substrait_filter_to_sql(filter)  # noqa: A001
            else:
                filter = arrow_filter_to_sql(filter)  # noqa: A001 - reference API name
        if nearest is not None or full_text_query is not None:
            # loud refusal beats silent omission: the search route has no
            # fragment restriction / offset / sort / allow-set support, and
            # returning unrestricted hits for scanner(nearest=...,
            # fragments=[3]) would be a wrong answer, not a degraded one
            unsupported = {
                "fragments": fragments, "offset": offset, "order_by": order_by,
                "prefilter_rowids": prefilter_rowids,
                "include_deleted_rows": include_deleted_rows,
            }
            bad = sorted(k for k, v in unsupported.items() if v)
            if bad:
                raise ValueError(
                    f"scanner search route (nearest/full_text_query) does not"
                    f" support: {bad}"
                )
            res = self._search_scan(
                spark, columns=columns, filter=filter, limit=limit,
                with_row_id=with_row_id, with_row_address=with_row_address,
                nearest=nearest,
                full_text_query=full_text_query, prefilter=prefilter,
                fast_search=fast_search,
                disable_scoring_autoprojection=disable_scoring_autoprojection,
            )
            res._scan_stats_callback = scan_stats_callback
            return res
        frags = self.manifest.fragments
        if fragments is not None:
            wanted = set(fragments)
            frags = [f for f in frags if f.id in wanted]

        base_cols = None
        if isinstance(columns, list):
            base_cols = [c for c in columns if c in self.columns]
        elif isinstance(columns, dict):
            import re

            refs = set()
            for e in columns.values():
                refs |= set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", e))
            base_cols = [c for c in self.columns if c in refs]
        sort_cols = []
        for entry in order_by or []:
            if hasattr(entry, "column_name"):  # ColumnOrdering object
                entry = (
                    entry.column_name,
                    "asc" if getattr(entry, "ascending", True) else "desc",
                    "nulls_first" if getattr(entry, "nulls_first", False) else "nulls_last",
                )
            if isinstance(entry, str):
                entry = (entry, "asc")
            name, direction = entry[0], entry[1].lower()
            nulls = entry[2].lower() if len(entry) > 2 else None
            c = F.col(name)
            if direction == "desc":
                c = c.desc_nulls_first() if nulls == "nulls_first" else c.desc_nulls_last() if nulls == "nulls_last" else c.desc()
            else:
                c = c.asc_nulls_first() if nulls == "nulls_first" else c.asc_nulls_last() if nulls == "nulls_last" else c.asc()
            sort_cols.append((name, c))

        if base_cols is not None and filter:
            # filter columns must be scanned even when not projected
            import re

            refs = set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", filter))
            base_cols += [c for c in self.columns if c in refs and c not in base_cols]

        # reference accepts bool | list[str] (dataset.py:4374-4378,
        # scanner.rs:190-222): a list names the columns to materialize late
        late_cols = (
            list(late_materialization)
            if isinstance(late_materialization, (list, tuple))
            else None
        )
        late = late_materialization and limit is not None and sort_cols
        if late:
            # phase 1: narrow scan (sort + filter columns only) → top-k rowids
            narrow_cols = [n for n, _ in sort_cols]
            narrow = self.scanner(
                spark,
                columns=narrow_cols,
                filter=filter,
                fragments=fragments,
                prefilter_rowids=prefilter_rowids,
                with_row_id=True,
                order_by=order_by,
            )
            if offset:
                narrow = narrow.offset(offset)
            topk = narrow.limit(limit).select(ROWID_COL, *narrow_cols)
            # phase 2: fetch the remaining columns for k winners only
            full_cols = base_cols
            if base_cols is not None:
                full_cols = base_cols + [n for n, _ in sort_cols if n not in base_cols]
            full = self._fragment_df(
                spark, frags, full_cols, include_deleted=include_deleted_rows
            )
            df = full.join(F.broadcast(topk.select(ROWID_COL)), ROWID_COL, "left_semi")
            df = df.orderBy(*[c for _, c in sort_cols])
        else:
            # per-column late materialization on a filtered scan: read only
            # the early (filter + non-late) columns, filter, then fetch the
            # listed columns for the SURVIVORS by _rowid join (TakeExec
            # role, scanner.rs:1579-1654) — at 100 TB the wide columns are
            # read for matching rows only, and Catalyst prunes them from
            # the early parquet scan entirely.
            late_set: set = set()
            if late_cols and filter:
                import re

                frefs = set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", filter))
                needed = base_cols if base_cols is not None else list(self.columns)
                sort_names = {n for n, _ in sort_cols}
                late_set = {
                    c for c in late_cols
                    if c in needed and c not in frefs and c not in sort_names
                }
            if late_set:
                early_cols = [c for c in (base_cols or self.columns) if c not in late_set]
                df = self._fragment_df(
                    spark, frags, early_cols, include_deleted=include_deleted_rows
                )
                if prefilter_rowids is not None:
                    df = df.join(
                        F.broadcast(prefilter_rowids.select(ROWID_COL)),
                        on=ROWID_COL, how="left_semi",
                    )
                df = df.filter(_compat_filter(filter))
                late_df = self._fragment_df(
                    spark, frags, sorted(late_set), include_deleted=include_deleted_rows
                )
                df = df.join(late_df, ROWID_COL, "inner")
            else:
                df = self._fragment_df(spark, frags, base_cols, include_deleted=include_deleted_rows)

                if prefilter_rowids is not None:
                    df = df.join(
                        F.broadcast(prefilter_rowids.select(ROWID_COL)), on=ROWID_COL, how="left_semi"
                    )
                if filter:
                    df = df.filter(_compat_filter(filter))

            if sort_cols:
                df = df.orderBy(*[c for _, c in sort_cols])
            if offset or limit is not None:
                if not sort_cols:
                    df = df.orderBy(ROWID_COL)
                if offset:
                    df = df.offset(offset)
                if limit is not None:
                    df = df.limit(limit)

        if with_row_address:
            df = self._attach_row_address(spark, df)
        out_cols: list = []
        if isinstance(columns, dict):
            out_cols = [F.expr(e).alias(n) for n, e in columns.items()]
        elif isinstance(columns, list):
            out_cols = list(columns)
        else:
            out_cols = self.columns
        if with_row_id:
            out_cols.append(ROWID_COL)
        if with_row_address:
            out_cols.append(ROWADDR_COL)
        from lance_spark.scanner import LanceScanner

        sc = LanceScanner(df.select(*out_cols), self, scan_stats_callback)
        # scan_batches re-derives a per-fragment plan from these (a bare
        # column-name rebuild would silently drop the filter / fragment
        # restriction / dict projections)
        sc._scan_kwargs = {
            "columns": columns, "filter": filter, "fragments": fragments,
            "with_row_id": with_row_id, "limit": limit, "offset": offset,
            "prefilter_rowids": prefilter_rowids,
            "include_deleted_rows": include_deleted_rows,
            "with_row_address": with_row_address, "order_by": order_by,
        }
        return sc

    def _search_scan(
        self,
        spark: SparkSession,
        columns=None,
        filter: str | None = None,  # noqa: A002
        limit: int | None = None,
        with_row_id: bool = False,
        with_row_address: bool = False,
        nearest: dict | None = None,
        full_text_query=None,
        prefilter: bool = False,
        fast_search: bool = False,
        disable_scoring_autoprojection: bool = False,
    ) -> DataFrame:
        """scanner(nearest=...) / scanner(full_text_query=...) routing
        (reference dataset.py:4420-4501 nearest dict; :4502 fast_search;
        :4353 prefilter semantics). ``filter`` arrives as SQL — scanner()
        converts pyarrow/Substrait inputs before dispatching here."""
        if nearest is not None:
            nq = dict(nearest)
            qv = nq.get("q", nq.get("query"))
            if qv is None:
                raise ValueError("nearest dict needs a 'q' (or 'query') vector")
            hits = self.nearest(
                spark,
                nq["column"],
                list(qv),
                k=int(nq.get("k", 10)),
                nprobes=int(nq.get("nprobes", 4)),
                refine_factor=int(nq.get("refine_factor") or 1),
                use_index=bool(nq.get("use_index", True)),
                filter=filter if prefilter else None,
                fast_search=fast_search,
                with_row_id=True,
                metric=nq.get("metric"),
            )
            score_col = "_distance"
        else:
            q = full_text_query
            if isinstance(q, dict):  # reference accepts {"query": ..., "columns": [...]}
                column = (q.get("columns") or [None])[0]
                q = q.get("query")
            else:
                column = None
            if filter and prefilter:
                # true prefilter: restrict the CORPUS before scoring so k
                # MATCHING rows come back. Runs the flat BM25 path over the
                # filtered base (the indexed postings can't be pre-restricted
                # without rebuilding them; the reference's prefilter also
                # materializes the allow-set first).
                from lance_spark.query import FullTextQuery, MatchQuery, execute_query

                base = self.to_df(spark, with_row_id=True).filter(_compat_filter(filter))
                if not isinstance(q, FullTextQuery):
                    q = MatchQuery(str(q), column)
                scored = execute_query(
                    spark, q, df=base, id_col=ROWID_COL, column=column, k=int(limit or 10)
                )
                hits = base.join(
                    F.broadcast(scored.withColumnRenamed("id", ROWID_COL)), on=ROWID_COL
                )
            else:
                hits = self.full_text_search(
                    spark, q, column=column, k=int(limit or 10), with_row_id=True
                )
            score_col = "_score"
        if filter and not prefilter:
            hits = hits.filter(_compat_filter(filter))
        if limit is not None:
            order = F.asc(score_col) if score_col == "_distance" else F.desc(score_col)
            hits = hits.orderBy(order, ROWID_COL).limit(limit)
        if isinstance(columns, dict):
            sel = [F.expr(e).alias(n) for n, e in columns.items()]
        elif isinstance(columns, list):
            sel = list(columns)
        else:
            sel = [c for c in self.columns if c in hits.columns]
        # the _score/_distance column is auto-appended to explicit
        # projections unless disabled (reference dataset.py:4587
        # disable_scoring_autoprojection); default projections always
        # include it
        if not (disable_scoring_autoprojection
                and isinstance(columns, (list, dict))):
            sel = [*sel, score_col]
        if with_row_id:
            sel.append(ROWID_COL)
        if with_row_address:
            hits = self._attach_row_address(spark, hits)
            if limit is not None:
                # the attach is a shuffle join on compacted datasets — Spark
                # does not preserve sort order through it, so re-apply the
                # score ordering (r12 ADVICE fix)
                hits = hits.orderBy(order, ROWID_COL)
            sel.append(ROWADDR_COL)
        from lance_spark.scanner import LanceScanner

        return LanceScanner(hits.select(*sel), self)

    # count fast path: O(1) from manifest when unfiltered
    # (scanner.rs:1496-1577, dataset.rs:1254)
    def count_rows(self, spark: SparkSession | None = None, filter: str | None = None) -> int:  # noqa: A002
        if filter is None:
            return sum(f.num_rows for f in self.manifest.fragments)
        assert spark is not None, "filtered count needs a SparkSession"
        return self.scanner(spark, filter=filter).count()

    def head(self, spark: SparkSession, n: int = 10) -> DataFrame:
        return self.scanner(spark, limit=n)

    def shard(
        self, spark: SparkSession, num_shards: int, shard_id: int, columns: list[str] | None = None
    ) -> DataFrame:
        """Fragment-sharded read for parallel ML ingest
        (ShardedFragmentSampler, python/python/lance/sampler.py:260-361):
        shard i reads fragments where fragment_id % num_shards == i — no
        shuffle, each worker scans disjoint files."""
        fids = [f.id for f in self.manifest.fragments if f.id % num_shards == shard_id]
        return self.scanner(spark, columns=columns, fragments=fids)

    def to_batches(
        self,
        spark: SparkSession,
        columns: list[str] | None = None,
        batch_size: int = 65536,
        filter: str | None = None,  # noqa: A002 - reference API name
    ) -> "object":
        """Iterator of pyarrow RecordBatches (ML-ingest surface; the role of
        the reference's FullScanSampler, python/python/lance/sampler.py;
        dataset.py:1348 ``to_batches`` with filter pushdown).

        Streams ONE FRAGMENT AT A TIME through the driver — peak driver
        memory is a fragment, not the table, so the iterator works at any
        table size. For parallel ingest use shard()/loaders.numpy_batches."""
        for frag in self.manifest.fragments:
            t = self.scanner(
                spark, columns=columns, filter=filter, fragments=[frag.id]
            ).toArrow()
            yield from t.to_batches(max_chunksize=batch_size)

    def sample(self, spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
        """Random-rowaddr sample (dataset.py:1407): deterministic hash-order
        pick of n rows without a full shuffle."""
        total = self.count_rows()
        frac = min(1.0, n / max(total, 1) * 1.2)
        return (
            self.to_df(spark, with_row_id=True)
            .sample(fraction=frac, seed=seed)
            .limit(n)
            .drop(ROWID_COL)
        )

    def _rowid_addressable(self) -> bool:
        """True while rowids still encode fragment<<32|offset; compaction
        preserves ids into new fragments and clears this (config flag)."""
        return bool(self.manifest.config.get("rowid_address_style", True))

    def _rowid_owners(self, spark: SparkSession, fragments=None) -> DataFrame:
        """``{_rowid, fragment_id, _rowaddr}`` for every row of the given
        fragment ids (default: all), from one scan of each fragment's first
        file. ``_rowaddr`` is the true current address ``fragment_id << 32 |
        position`` (rust/lance-core/src/lib.rs:19-36): the position comes
        from the parquet reader's ``_metadata.row_index``, the fragment id
        from the file name our writer gives it (``frag-<id>-<uuid>``), or
        from a per-fragment union when a file (e.g. one adopted through
        ``Fragment.create_from_file``) does not carry its own id."""
        import re

        wanted = None if fragments is None else {int(f) for f in fragments}
        frags = [f for f in self.manifest.fragments if wanted is None or f.id in wanted]
        if not frags:
            return local_df(
                spark, [], f"{ROWID_COL} long, fragment_id long, {ROWADDR_COL} long"
            )

        def _embedded_id(path: str):
            m = re.search(r"frag-(\d+)-", os.path.basename(path))
            return int(m.group(1)) if m else None

        def owned(df: DataFrame, fid) -> DataFrame:
            return df.select(
                ROWID_COL,
                fid.alias("fragment_id"),
                F.shiftleft(fid, FRAGID_SHIFT)
                .bitwiseOR(F.col("_metadata.row_index").cast("long"))
                .alias(ROWADDR_COL),
            )

        if all(_embedded_id(f.files[0].path) == f.id for f in frags):
            # one scan instead of an O(fragments)-deep union plan; the regex
            # is anchored to the basename so a directory named 'frag-<n>-'
            # cannot win over the file's own id
            raw = read_table(spark, [self._abs(f.files[0].path) for f in frags], ROWID_SCHEMA)
            # _metadata.file_path, not the nondeterministic input_file_name():
            # a deterministic projection lets Spark prune the unused
            # row_index when a caller selects only {_rowid, fragment_id}
            fid = F.regexp_extract(F.col("_metadata.file_path"), r"frag-(\d+)-[^/]*$", 1)
            return owned(raw, fid.cast("long"))
        pieces = [
            owned(
                read_table(spark, self._abs(f.files[0].path), ROWID_SCHEMA),
                F.lit(f.id).cast("long"),
            )
            for f in frags
        ]
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def _with_fragment_id(
        self, spark: SparkSession, df: DataFrame, col: str = ROWID_COL,
        fragments=None, how: str = "inner",
    ) -> DataFrame:
        """``df`` plus a trailing ``fragment_id``: the fragment holding each
        row's rowid ``col``. With ``fragments``, rows held elsewhere are
        dropped (``how="inner"``) or kept with a null ``fragment_id``
        (``how="left"``, the form the index tail masks use).

        While rowids are addresses this is a pure expression and runs no
        job; after compaction it joins ``_rowid_owners`` of the requested
        fragments only. An inner lookup over named fragments (one fragment,
        one ``scan_batches`` chunk) broadcasts those owners, so ``df`` keeps
        its row order and no shuffle runs."""
        if not self._rowid_addressable():
            owners = self._rowid_owners(spark, fragments).select(
                F.col(ROWID_COL).alias(col), "fragment_id"
            )
            if fragments is not None and how == "inner":
                owners = F.broadcast(owners)
            return df.join(owners, col, how).select(*df.columns, "fragment_id")
        fid = F.shiftright(F.col(col), FRAGID_SHIFT)
        if fragments is None:
            return df.withColumn("fragment_id", fid)
        held = fid.isin([int(f) for f in fragments])
        if how == "inner":
            return df.filter(held).withColumn("fragment_id", fid)
        return df.withColumn("fragment_id", F.when(held, fid))

    def _rowids_held(self, rowids, fragments):
        """The driver-side form of ``_with_fragment_id(..., fragments=...)``
        for a numpy array of rowids: a bool mask, True where one of
        ``fragments`` holds the row. Runs no Spark job. While rowids are
        addresses it is the prefix arithmetic; after compaction it reads the
        ``_rowid`` column of those fragments' first files with pyarrow, the
        rows ``_rowid_owners`` would scan."""
        import numpy as np

        wanted = {int(f) for f in fragments}
        if self._rowid_addressable():
            return np.isin(rowids >> FRAGID_SHIFT, list(wanted))
        import pyarrow.parquet as pq

        held = [
            pq.read_table(self._abs(f.files[0].path), columns=[ROWID_COL])
            .column(0).to_numpy()
            for f in self.manifest.fragments if f.id in wanted
        ]
        return np.isin(rowids, np.concatenate(held) if held else [])

    def _attach_row_address(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        """Add ``_rowaddr`` to a DataFrame carrying ``_rowid``. Pre-compaction
        this is a free column alias; afterwards a join against the address
        map — never the stale identity (a consumer mapping addresses back to
        fragments/offsets would silently get dead fragment ids)."""
        if self._rowid_addressable():
            return df.withColumn(ROWADDR_COL, F.col(ROWID_COL))
        addr = self._rowid_owners(spark).select(ROWID_COL, ROWADDR_COL)
        return df.join(addr, ROWID_COL, "left")

    def _rowid_range(self, path: str) -> tuple[int, int] | None:
        """(min, max) of ``_rowid`` in one parquet file, from its footer
        stats — an O(footer) driver read, cached per (version, path) since
        data files are immutable. None when stats are unavailable."""
        cache = self.__dict__.setdefault("_rowid_range_cache", {})
        if path in cache:
            return cache[path]
        rng = None
        try:
            import pyarrow.parquet as pq

            md = pq.read_metadata(self._abs(path))
            idx = next(
                (i for i in range(md.num_columns)
                 if md.schema.column(i).name == ROWID_COL),
                None,
            )
            if idx is not None:
                mn, mx = None, None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        mn = None
                        break
                    mn = st.min if mn is None else min(mn, st.min)
                    mx = st.max if mx is None else max(mx, st.max)
                if mn is not None:
                    rng = (int(mn), int(mx))
        except Exception:
            rng = None
        cache[path] = rng
        return rng

    def _fragments_holding(self, rowids: list[int], file_of=None) -> list[tuple]:
        """``(fragment, the requested rowids it may hold)`` for each fragment
        that may hold any of ``rowids``, in manifest order, decided on the
        driver with no Spark job (the TakeExec pruning, take.rs:103). While
        rowids are addresses the prefix names the fragment. After
        compaction each file's ``_rowid`` footer min/max bounds its ids
        (compaction writes ids in sorted runs): a fragment may hold the ids
        inside one of its files' ranges, the files being
        ``file_of(fragment)`` (default: all its data files). A file with no
        stats may hold every id."""
        frags = self.manifest.fragments
        if self._rowid_addressable():
            by_fid: dict[int, list[int]] = {}
            for rid in rowids:
                by_fid.setdefault(rid >> FRAGID_SHIFT, []).append(rid)
            return [(f, by_fid[f.id]) for f in frags if f.id in by_fid]
        import bisect

        rid_sorted = sorted(set(rowids))
        out = []
        for f in frags:
            held: set[int] = set()
            for p in file_of(f) if file_of else [d.path for d in f.files]:
                rng = self._rowid_range(p)
                if rng is None:
                    held.update(rid_sorted)
                    break
                lo = bisect.bisect_left(rid_sorted, rng[0])
                held.update(rid_sorted[lo:bisect.bisect_right(rid_sorted, rng[1])])
            if held:
                out.append((f, sorted(held)))
        return out

    def take(self, spark: SparkSession, rowids: list[int], columns: list[str] | None = None) -> DataFrame:
        """Random access by _rowid (dataset/take.rs:103). Small id sets prune
        to the owning fragments first → targeted file reads, the parquet
        analogue of Lance's point reads."""
        frags = [f for f, _ in self._fragments_holding(rowids)]
        df = self._fragment_df(spark, frags, columns if columns else None)
        df = df.filter(F.col(ROWID_COL).isin(rowids))
        return df.select(*(columns or self.columns), ROWID_COL)

    # ------------------------------------------------------------ blobs

    def _blob_files(self, column: str) -> list[str]:
        if column not in (self.manifest.blob_columns or []):
            # the manifest registry is authoritative: any files[1:] group
            # (e.g. an add_columns column group) would otherwise pass as a
            # 'blob store' and serve non-binary cells through BlobFile
            raise ValueError(f"{column} is not a blob column")
        out = []
        for frag in self.manifest.fragments:
            for f in frag.files[1:]:
                if column in f.columns:
                    out.append(f.path)
        if not out:
            raise ValueError(f"{column} is not a blob column")
        return out

    def blob_descriptors(self, spark: SparkSession, column: str) -> DataFrame:
        """Blob scan without fetching bytes: {_rowid, size, file} descriptors
        (BlobFile semantics, python/python/lance/blob.py — scans return
        {position,size} and bytes are fetched lazily). Parquet column pruning
        means the binary column is never read here."""
        df = self._read_files(spark, self._blob_files(column))
        return df.select(
            ROWID_COL,
            F.col(f"{column}_size").alias("size"),
            F.input_file_name().alias("file"),
        )

    def take_blobs(self, spark: SparkSession, rowids: list[int], column: str) -> DataFrame:
        """Fetch blob bytes for a rowid set (dataset.py:1439-1546 take_blobs):
        fragment-prune → read only those fragments' blob files → rowid filter
        (a ranged read of the out-of-line store)."""
        # a small take on a many-fragment dataset opens only the owning
        # blob files, never the whole store
        frags = [
            f for f, _ in self._fragments_holding(
                rowids,
                file_of=lambda f: [df.path for df in f.files[1:] if column in df.columns],
            )
        ]
        self._blob_files(column)  # validate the column even if pruning emptied frags
        paths = [p for f in frags for df in f.files[1:] if column in df.columns
                 for p in [df.path]]
        if not paths:
            return local_df(spark, [], f"{ROWID_COL} long, {column} binary")
        df = self._read_files(spark, paths)
        out = df.filter(F.col(ROWID_COL).isin(rowids)).select(ROWID_COL, column)
        # blob sidecars are never rewritten on delete: without the
        # deletion-file anti-join a tombstoned row's stale bytes come back
        del_paths = [f.deletion_file for f in frags if f.deletion_file]
        if del_paths:
            dels = self._read_files(spark, del_paths).select(ROWID_COL)
            out = out.join(F.broadcast(dels), ROWID_COL, "left_anti")
        return out

    def take_blob_files(self, rowids: list[int], column: str) -> list:
        """Lazy file-like handles, one per rowid (the reference's actual
        ``take_blobs`` return shape — list[BlobFile], dataset.py:1500,
        blob.py:52). No Spark job: bytes are point-read at first .read()."""
        from lance_spark.blob import blob_files

        return blob_files(self, column, rowids)

    # ------------------------------------------------------------ sql

    def sql(self, spark: SparkSession, query: str, table_name: str = "dataset") -> DataFrame:
        """Full SQL via temp view — the role DataFusion plays through
        Dataset::sql() (rust/lance/src/dataset/sql.rs:66-80).

        Supports the reference's ``fts(...)`` table function inside the SQL
        text (rust/lance/src/dataset/udtf.rs:130-220):
        ``SELECT * FROM fts('{"match": {"column": "text", "terms": "..."}}',
        '{"with_row_id": true}') WHERE ...`` — args are (optional table
        name,) query JSON (or plain terms), (optional options JSON with
        with_row_id / with_row_addr / ordered). Each call compiles to a
        scored DataFrame registered as a temp view; the SQL sees the
        dataset's columns plus ``_score``."""
        query = self._rewrite_fts_calls(spark, query)
        self.to_df(spark).createOrReplaceTempView(table_name)
        return spark.sql(query)

    def _rewrite_fts_calls(self, spark: SparkSession, query: str) -> str:
        """Replace each ``fts(...)`` table-function reference in the SQL
        text with a temp view holding that search's results.

        Call sites are located with Spark's own SQL parser
        (``sessionState().sqlParser().parsePlan``): the parsed plan is
        walked — children, CTE inner children, and subquery expressions —
        for ``UnresolvedTableValuedFunction`` nodes named ``fts``, and each
        node's parser-recorded origin span plus its literal arguments'
        spans give the exact source range of the call, so quoting, escape
        sequences, comments, and identifier backticks are all handled by
        the parser rather than by hand. Queries that do not parse (they
        would fail in ``spark.sql`` regardless) and environments without a
        classic JVM session fall back to a conservative character scanner,
        which preserves the historical error messages for malformed
        calls."""
        if "fts" not in query.lower():
            # fast path: no possible call site, skip the parse + plan walk
            # (the py4j traversal costs ~1ms/node on wide plans)
            return query
        spans = _locate_fts_calls_via_parser(spark, query)
        if spans is None:
            return self._rewrite_fts_calls_scanner(spark, query)
        # compile views in document order (stable numbering), then splice
        # the replacements right-to-left so earlier offsets stay valid
        views = [
            self._compile_fts_call(spark, args, n)
            for n, (_, _, args) in enumerate(spans)
        ]
        out = query
        for (start, end, _), view in zip(reversed(spans), reversed(views)):
            out = out[:start] + view + out[end + 1 :]
        return out

    def _compile_fts_call(self, spark: SparkSession, args: list[str], n_calls: int) -> str:
        """Execute one ``fts(...)`` call's search and register the scored
        result as a temp view; returns the view name. Arg shapes
        (udtf.rs:177-201): (query[, options]) or (table_name, query[,
        options]). Disambiguating the 2-arg case: a leading table name is
        only assumed when the SECOND arg is a query JSON — ('plain terms',
        '{"with_row_id": true}') is (query, options), since options keys
        never name a query type."""
        import json as _json

        from lance_spark.query import FullTextQuery, MatchQuery, execute_query, from_json

        _QUERY_KEYS = {"match", "phrase", "boost", "multi_match", "boolean"}
        if len(args) == 3 and not args[0].lstrip().startswith("{"):
            args = args[1:]
        elif len(args) == 2 and not args[0].lstrip().startswith("{"):
            second = args[1].lstrip()
            if second.startswith("{"):
                is_query_json = False
                try:
                    keys = set(_json.loads(args[1]).keys())
                    is_query_json = bool(keys & _QUERY_KEYS)
                except Exception:
                    is_query_json = False
                if is_query_json:
                    args = args[1:]  # (table_name, query)
            else:
                # second arg is neither options-JSON nor query-JSON → it
                # must be the query and args[0] a table name:
                # fts('docs', 'scan join')
                args = args[1:]
        if not 1 <= len(args) <= 2:
            raise ValueError("fts() takes ([table,] query[, options])")
        if len(args) == 2 and args[1].strip():
            try:
                opts = _json.loads(args[1])
            except Exception as exc:
                raise ValueError(
                    "fts() options argument must be a JSON object "
                    "like '{\"with_row_id\": true}'; accepted call "
                    "shapes are fts(query), fts(query, options), "
                    f"fts(table, query[, options]); got: {args[1]!r}"
                ) from exc
        else:
            opts = {}
        qtext = args[0]
        qobj: FullTextQuery = (
            from_json(qtext) if qtext.lstrip().startswith("{") else MatchQuery(qtext)
        )
        hits = execute_query(spark, qobj, ds=self, k=None)
        base = self.to_df(spark, with_row_id=True)
        # the hits key renames to a reserved name before the fetch join: a
        # bare drop("id") would also drop a USER column named id
        hits = hits.withColumnRenamed("id", "__match_id")
        res = base.join(
            F.broadcast(hits), base[ROWID_COL] == hits["__match_id"]
        ).drop("__match_id")
        if opts.get("with_row_addr"):
            res = self._attach_row_address(spark, res)
        if not opts.get("with_row_id"):
            res = res.drop(ROWID_COL)
        if opts.get("ordered"):
            res = res.orderBy(F.desc("_score"))
        view = f"__lance_fts_{n_calls}"
        res.createOrReplaceTempView(view)
        return view

    def _rewrite_fts_calls_scanner(self, spark: SparkSession, query: str) -> str:
        """Character-scanner fallback for queries the parser rejects (kept
        for its precise 'unterminated fts(...)' diagnostics; a non-parsing
        query errors in ``spark.sql`` anyway, so this path can never
        mis-rewrite a valid query). Quote-aware: ``fts(`` inside a string
        literal is left alone, and commas inside the JSON argument strings
        don't split args."""
        out, i, n_calls = [], 0, 0
        in_quote: str | None = None  # ' or " (string literals) or ` (identifier)
        q = query
        while i < len(q):
            ch = q[i]
            if in_quote is not None:
                # Spark string literals process backslash escapes ('don\'t');
                # backtick identifiers don't.
                if ch == "\\" and in_quote in ("'", '"') and i + 1 < len(q):
                    out.append(ch)
                    out.append(q[i + 1])
                    i += 2
                    continue
                out.append(ch)
                if ch == in_quote:
                    in_quote = None
                i += 1
                continue
            if ch in ("'", '"', "`"):
                out.append(ch)
                in_quote = ch
                i += 1
                continue
            if (
                q[i : i + 3].lower() == "fts"
                and (i == 0 or not (q[i - 1].isalnum() or q[i - 1] in "_."))
            ):
                j = i + 3
                while j < len(q) and q[j].isspace():
                    j += 1
                if j < len(q) and q[j] == "(":
                    args, end = _split_sql_call_args(q, j)
                    view = self._compile_fts_call(spark, args, n_calls)
                    n_calls += 1
                    out.append(view)
                    i = end
                    continue
            out.append(ch)
            i += 1
        return "".join(out)

    def sql_builder(self, query: str) -> "SqlQueryBuilder":
        """Builder-shaped SQL entry (reference dataset.py:3450-3475 ``sql`` →
        SqlQueryBuilder :3581-3639): ``ds.sql_builder("SELECT ...")
        .table_name("t").with_row_id().build(spark).to_df()``."""
        return SqlQueryBuilder(self, query)

    # ----------------------------------------------- fragment / config parity

    def get_fragments(self) -> list[mf.Fragment]:
        """Fragment metadata list (dataset.py ``get_fragments`` → LanceFragment;
        our Fragment dataclass carries id/files/physical_rows/deletions)."""
        return list(self.manifest.fragments)

    def get_fragment(self, fragment_id: int) -> mf.Fragment | None:
        return next((f for f in self.manifest.fragments if f.id == fragment_id), None)

    def has_index(self) -> bool:
        return bool(self.manifest.indices)

    def checkout_latest(self) -> "LanceDataset":
        # _derived keeps the credential seam (storage options / provider) —
        # a bare re-open would drop them (r11 review)
        return self._derived()

    def checkout_branch(self, name: str) -> "LanceDataset":
        return self._derived(version=mf.resolve_ref(self.uri, "branches", name))

    @property
    def config(self) -> dict:
        return dict(self.manifest.config)

    def update_config(self, upsert: dict, *, replace: bool = False) -> "LanceDataset":
        """Operation::UpdateConfig (transaction.rs): metadata-only commit
        merging keys into the manifest config. Unified semantics (reference
        dataset.py:1206-1243): a ``None`` value removes the key;
        ``replace=True`` swaps the whole config for ``upsert``."""
        # auto-cleanup keys are validated HERE, at set time, so a bad value
        # can never enter the manifest — the commit-time GC hook must never
        # raise (the commit is durable by then; io/commit.rs:904-906)
        mf.validate_auto_cleanup_config(
            {k: v for k, v in upsert.items() if v is not None}
        )

        def build(base, version):
            if replace:
                # schema/table metadata live in their own namespaces in the
                # reference — a config replace must not clobber them. Nor
                # the FORMAT flags the engine itself maintains: dropping
                # rowid_address_style silently re-enables the rid>>32 fast
                # paths on a compacted dataset (wrong take/delete results),
                # and dropping column_renames detaches renamed columns from
                # their physical files.
                merged = {
                    k: v for k, v in base.config.items()
                    if k in _PROTECTED_CONFIG_KEYS
                }
                merged.update(upsert)
            else:
                merged = {**base.config, **upsert}
            merged = {k: v for k, v in merged.items() if v is not None}
            return mf.Manifest.evolve(
                base, version, operation="update_config", config=merged,
            )

        mf.commit(self.uri, build, operation="update_config")
        return LanceDataset(self.uri)

    def delete_config_keys(self, *keys: str) -> "LanceDataset":
        def build(base, version):
            return mf.Manifest.evolve(
                base, version, operation="update_config",
                config={k: v for k, v in base.config.items() if k not in keys},
            )

        mf.commit(self.uri, build, operation="update_config")
        return LanceDataset(self.uri)

    def schema_metadata(self) -> dict:
        return dict(self.manifest.config.get("schema_metadata", {}))

    def replace_schema_metadata(self, metadata: dict) -> "LanceDataset":
        """Schema-level key/value metadata (dataset.py replace_schema_metadata)
        — carried in the manifest config, versioned like any commit."""
        return self.update_config({"schema_metadata": dict(metadata)})

    def update_schema_metadata(self, values: dict, *, replace: bool = False) -> dict:
        """Incremental schema-metadata update (reference dataset.py:1244-1281):
        ``None`` removes a key; ``replace=True`` swaps the whole map."""
        cur = {} if replace else self.schema_metadata()
        cur.update(values)
        cur = {k: v for k, v in cur.items() if v is not None}
        self.manifest = self.update_config({"schema_metadata": cur}).manifest
        return cur

    @property
    def metadata(self) -> dict:
        """Table-level metadata map (reference dataset.py:1145 ``metadata``) —
        a namespace separate from schema metadata."""
        return dict(self.manifest.config.get("table_metadata", {}))

    def update_metadata(self, values: dict, *, replace: bool = False) -> dict:
        """Table-metadata update (reference dataset.py:1168-1204)."""
        cur = {} if replace else self.metadata
        cur.update(values)
        cur = {k: v for k, v in cur.items() if v is not None}
        self.manifest = self.update_config({"table_metadata": cur}).manifest
        return cur

    # field-level metadata (reference dataset.py:1119-1143 replace_field_metadata,
    # :1282-1328 update_field_metadata). Stored in the Spark schema JSON's
    # per-field ``metadata`` dict — StructType round-trips it natively, so the
    # metadata travels with every scan's schema.
    def _field_entry(self, schema_json: dict, path: str) -> dict:
        parts = path.split(".")
        fields = schema_json["fields"]
        for i, part in enumerate(parts):
            entry = next((f for f in fields if f["name"] == part), None)
            if entry is None:
                raise KeyError(f"field not found: {path}")
            if i == len(parts) - 1:
                return entry
            t = entry["type"]
            if not (isinstance(t, dict) and t.get("type") == "struct"):
                raise KeyError(f"field not found: {path} ({part} is not a struct)")
            fields = t["fields"]
        raise KeyError(f"field not found: {path}")

    def field_metadata(self, field_name: str) -> dict:
        return dict(self._field_entry(self.manifest.schema_json, field_name).get("metadata", {}))

    def update_field_metadata(
        self, field_updates: dict, *, replace: bool = False
    ) -> "LanceDataset":
        """Update metadata for multiple fields in one metadata-only commit
        (reference dataset.py:1282-1328; dotted paths reach struct members).
        ``None`` values remove keys; ``replace=True`` swaps each named
        field's map wholesale."""
        import copy

        def build(base, version):
            schema = copy.deepcopy(base.schema_json)
            for path, updates in field_updates.items():
                entry = self._field_entry(schema, path)
                cur = {} if replace else dict(entry.get("metadata", {}))
                cur.update(updates)
                entry["metadata"] = {k: v for k, v in cur.items() if v is not None}
            return mf.Manifest.evolve(
                base, version, operation="update_config", schema_json=schema,
            )

        mf.commit(self.uri, build, operation="update_config")
        return LanceDataset(self.uri)

    def replace_field_metadata(self, field_name: str, new_metadata: dict) -> "LanceDataset":
        """Full replacement for one field (reference dataset.py:1119)."""
        return self.update_field_metadata({field_name: new_metadata}, replace=True)

    # --------------------------------------------------------- transactions

    def read_transaction(self, version: int) -> dict | None:
        """Transaction record for a version (reference dataset.py:3408-3447;
        Transaction dataclass :3646-3652). Derived from the version's
        manifest: operation + read_version + the commit's properties."""
        try:
            m = mf.read_manifest(self.uri, version)
        except FileNotFoundError:
            return None
        return {
            "read_version": version - 1,
            "version": version,
            "operation": m.operation,
            "timestamp": m.timestamp,
            "uuid": f"{os.path.basename(self.uri)}-{version}",
            "transaction_properties": dict(m.properties),
        }

    def get_transactions(self, recent_transactions: int = 10) -> list[dict | None]:
        """Most-recent-first transaction list (reference dataset.py:3447)."""
        vs = mf.list_versions(self.uri)
        return [self.read_transaction(v) for v in sorted(vs, reverse=True)[:recent_transactions]]

    # ---------------------------------------------------------- multi-base

    def base_paths(self) -> dict:
        """Registered storage bases, keyed by name (reference
        ``_ds.base_paths()``)."""
        return {
            b["name"]: mf.DatasetBasePath.from_json(b) for b in self.manifest.bases
        }

    def add_bases(
        self, new_bases: list, transaction_properties: dict | None = None
    ) -> "LanceDataset":
        """Register additional storage roots for future writes (reference
        dataset.py:2154-2178 ``add_bases``) — a metadata-only commit."""
        adds = []
        for b in new_bases:
            if not isinstance(b, mf.DatasetBasePath):
                b = mf.DatasetBasePath.from_json(b)
            adds.append(b.to_json())

        def build(base, version):
            names = [x["name"] for x in base.bases] + [x["name"] for x in adds]
            dupes = {n for n in names if names.count(n) > 1}
            if dupes:
                raise ValueError(f"duplicate base name(s): {sorted(dupes)}")
            return mf.Manifest.evolve(
                base, version, operation="update_config", bases=base.bases + adds,
            )

        mf.commit(
            self.uri, build, operation="update_config",
            properties=transaction_properties,
        )
        return LanceDataset(self.uri)

    def full_text_search(
        self, spark: SparkSession, query, column: str | None = None, k: int = 10,
        with_row_id: bool = False,
    ) -> DataFrame:
        """``full_text_search`` entry (scanner fts surface): a plain string is
        a ``MatchQuery`` (OR of its terms, split and normalized like the
        index tokenizer); a structured ``FullTextQuery`` object
        (lance_spark.query — reference python/python/lance/query.py:31-244)
        compiles its whole tree to one Spark plan. Both run through
        ``execute_query``, over the INVERTED index tables when one covers
        the column, else flat postings — returns the dataset's columns +
        _score."""
        from lance_spark.query import FullTextQuery, MatchQuery, execute_query

        if not isinstance(query, FullTextQuery):
            query = MatchQuery(query, column)
        hits = execute_query(spark, query, ds=self, column=column, k=k)
        base = self.to_df(spark, with_row_id=True)
        # reserved join-key name: drop("id") would also drop a user id column
        hits = hits.withColumnRenamed("id", "__match_id")
        out = base.join(
            F.broadcast(hits), base[ROWID_COL] == hits["__match_id"]
        ).drop("__match_id")
        if not with_row_id:
            out = out.drop(ROWID_COL)
        return out.orderBy(F.desc("_score"))

    @property
    def optimize(self) -> "_OptimizeNamespace":
        """Reference call-site parity: ``ds.optimize.compact_files(...)`` /
        ``ds.optimize.optimize_indices(...)`` (dataset.py DatasetOptimizer)."""
        return _OptimizeNamespace(self)

    def changes(
        self, spark: SparkSession, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Incremental diff between versions (lance_spark.cdc.changes):
        inserted rows carry their column values, deleted rows their rowid.
        O(changed fragments), never a table diff."""
        from lance_spark.cdc import changes

        return changes(self, spark, from_version, to_version)

    def session(self) -> "Session":
        """Metadata-cache handle (reference dataset.py:3039 ``session`` →
        Session.size_bytes/approx_num_items). Backed by the process-wide
        manifest cache — versions are immutable, so entries never go stale
        while their files exist."""
        return Session()

    # ------------------------------------------------------------ stats

    @property
    def stats(self) -> "LanceStats":
        """Stats namespace (reference dataset.py:5038 ``LanceStats``):
        ``ds.stats.dataset_stats()`` / ``index_stats(name)`` /
        ``data_stats()``. Also CALLABLE — ``ds.stats()`` returns the flat
        summary dict this repo exposed originally, so both call shapes
        work."""
        return LanceStats(self)

    def data_stats(self, columns: list[str] | None = None) -> dict:
        """Per-column physical statistics (reference LanceStats.data_stats,
        dataset.py:5068; field-level size accounting). Aggregated from
        parquet FOOTERS across fragments — O(files), never a data scan, so
        as cheap at 100 TB as locally."""
        import pyarrow.parquet as pq

        # footers and DataFile column lists carry PHYSICAL names; the caller
        # speaks logical — translate both the filter and the output keys
        renames = self.manifest.config.get("column_renames", {})
        logical_to_phys = {v: k for k, v in renames.items()}
        wanted = (
            {logical_to_phys.get(c, c) for c in columns}
            if columns is not None
            else None
        )
        out: dict[str, dict] = {}
        for frag in self.manifest.fragments:
            for df in frag.files:
                cols_here = set(df.columns)
                if wanted is not None and not (cols_here & wanted):
                    continue  # column-group pruning applies to stats too
                md = pq.read_metadata(self._abs(df.path))
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    for ci in range(rg.num_columns):
                        col = rg.column(ci)
                        name = col.path_in_schema.split(".")[0]
                        if name.startswith("_") or (wanted is not None and name not in wanted):
                            continue
                        name = renames.get(name, name)
                        ent = out.setdefault(
                            name,
                            {"num_values": 0, "null_count": 0,
                             "compressed_bytes": 0, "uncompressed_bytes": 0},
                        )
                        ent["num_values"] += col.num_values
                        ent["compressed_bytes"] += col.total_compressed_size
                        ent["uncompressed_bytes"] += col.total_uncompressed_size
                        st = col.statistics
                        if st is not None and st.null_count is not None:
                            ent["null_count"] += st.null_count
        return {"fields": out}

    def data_statistics(self, columns: list[str] | None = None) -> "DataStatistics":
        """Typed view of ``data_stats`` — the reference's
        ``DataStatistics``/``FieldStatistics`` shape (dataset.py:5018-5031):
        per-field bytes-on-disk accounting. Field ids are schema positions
        (the stable id our parquet-backed format carries)."""
        raw = self.data_stats(columns)["fields"]
        order = {name: i for i, name in enumerate(self.columns)}
        # entries not in the top-level schema (blob sidecar columns, renamed
        # leftovers) have no field id — skip them rather than emit a bogus
        # id=-1 row; their bytes remain visible through data_stats()
        fields = [
            FieldStatistics(id=order[name], bytes_on_disk=ent["compressed_bytes"])
            for name, ent in sorted(
                (kv for kv in raw.items() if kv[0] in order),
                key=lambda kv: order[kv[0]],
            )
        ]
        return DataStatistics(fields=fields)

    def list_indices(self, as_objects: bool = False) -> list:
        """Index inventory (reference dataset.py:2894 ``list_indices``).
        Default returns the manifest dicts; ``as_objects=True`` returns
        reference-shaped ``Index`` records (dataset.py:3691)."""
        if as_objects:
            v = self.version
            return [mf.Index.from_meta(i, dataset_version=v) for i in self.manifest.indices]
        return [i.to_json() for i in self.manifest.indices]

    def validate(self) -> None:
        """Integrity check (reference dataset.py:3319 ``validate``): raises
        ValueError on corruption. O(fragments) driver-side metadata — data
        file row counts come from parquet FOOTERS, never a data scan, so
        this is as cheap at 100 TB as at 100 MB."""
        import pyarrow.parquet as pq

        m = self.manifest
        problems: list[str] = []
        ids = [f.id for f in m.fragments]
        if len(ids) != len(set(ids)):
            problems.append(f"duplicate fragment ids: {sorted(ids)}")
        fields = [f["name"] for f in m.schema_json["fields"]]
        if len(fields) != len(set(fields)):
            problems.append(f"duplicate schema fields: {fields}")
        for frag in m.fragments:
            covered: list[str] = []
            for i, df in enumerate(frag.files):
                p = os.path.join(self.uri, df.path)
                if not os.path.isfile(p):
                    problems.append(f"fragment {frag.id}: missing data file {df.path}")
                    continue
                n = pq.read_metadata(p).num_rows
                # the base file stores every physical row; column groups
                # added AFTER deletions hold only the then-live rows, so
                # they bound between live and physical counts
                ok = (
                    n == frag.physical_rows
                    if i == 0
                    else frag.num_rows <= n <= frag.physical_rows
                )
                if not ok:
                    problems.append(
                        f"fragment {frag.id}: {df.path} has {n} rows, manifest says "
                        f"physical={frag.physical_rows} live={frag.num_rows}"
                    )
                covered.extend(df.columns)
            if len(covered) != len(set(covered)):
                problems.append(f"fragment {frag.id}: column stored in multiple files: {covered}")
            # files keep PHYSICAL names; schema fields are logical — apply
            # the rename map before coverage comparison or any renamed
            # column fails validation on a healthy dataset
            renames = m.config.get("column_renames", {})
            covered_logical = {renames.get(c, c) for c in covered}
            missing = set(fields) - covered_logical
            if missing:
                problems.append(f"fragment {frag.id}: schema fields with no data file: {sorted(missing)}")
            if frag.deletion_file is not None:
                dp = os.path.join(self.uri, frag.deletion_file)
                if not os.path.isfile(dp):
                    problems.append(f"fragment {frag.id}: missing deletion file {frag.deletion_file}")
                elif pq.read_metadata(dp).num_rows != frag.num_deleted_rows:
                    problems.append(
                        f"fragment {frag.id}: deletion file rows != num_deleted_rows"
                    )
            elif frag.num_deleted_rows:
                problems.append(
                    f"fragment {frag.id}: num_deleted_rows={frag.num_deleted_rows} without a deletion file"
                )
            if frag.num_deleted_rows > frag.physical_rows:
                problems.append(f"fragment {frag.id}: more deletions than physical rows")
        for idx in m.indices:
            if not os.path.isdir(os.path.join(self.uri, idx.path)):
                problems.append(f"index {idx.name}: missing index directory {idx.path}")
        if problems:
            raise ValueError("dataset failed validation:\n  " + "\n  ".join(problems))

    # mutation / evolution / maintenance entry points (implemented in their
    # own modules; bound here for the reference's method-on-dataset API)
    def delete(self, spark: SparkSession, predicate: str) -> "LanceDataset":
        from lance_spark.mutation import delete

        return delete(self, spark, predicate)

    def update(self, spark: SparkSession, values: dict[str, str], where: str | None = None) -> "LanceDataset":
        from lance_spark.mutation import update

        return update(self, spark, values, where)

    def merge_insert(self, on: str | list[str]) -> "MergeInsertBuilder":
        from lance_spark.mutation import MergeInsertBuilder

        return MergeInsertBuilder(self, on)

    def insert(self, df: DataFrame) -> "LanceDataset":
        from lance_spark.write import write_dataset

        return write_dataset(df, self.uri, mode="append")

    def add_columns(self, spark: SparkSession, transforms, read_columns=None) -> "LanceDataset":
        from lance_spark.evolution import add_columns

        return add_columns(self, spark, transforms, read_columns)

    def drop_columns(self, columns: list[str]) -> "LanceDataset":
        from lance_spark.evolution import drop_columns

        return drop_columns(self, columns)

    def alter_columns(self, *alterations: dict, spark: SparkSession | None = None) -> "LanceDataset":
        from lance_spark.evolution import alter_columns

        return alter_columns(self, *alterations, spark=spark)

    def index_statistics(self, name: str) -> dict:
        """dataset.py:2980-3005 index_statistics: metadata + coverage."""
        meta = next((i for i in self.manifest.indices if i.name == name), None)
        if meta is None:
            raise ValueError(f"no index named {name}")
        all_frags = {f.id for f in self.manifest.fragments}
        covered = set(meta.fragment_ids) & all_frags
        return {
            "name": meta.name,
            "index_type": meta.index_type,
            "column": meta.column,
            "params": meta.params,
            "num_indexed_fragments": len(covered),
            "num_unindexed_fragments": len(all_frags - covered),
            "num_indexed_rows": sum(
                f.num_rows for f in self.manifest.fragments if f.id in covered
            ),
            "num_unindexed_rows": sum(
                f.num_rows for f in self.manifest.fragments if f.id not in covered
            ),
        }

    def prewarm_index(self, spark: SparkSession, name: str) -> None:
        """dataset.py prewarm_index: pin the index table in executor memory."""
        meta = next((i for i in self.manifest.indices if i.name == name), None)
        if meta is None:
            raise ValueError(f"no index named {name}")
        path = os.path.join(self.uri, meta.path)
        sub = os.path.join(path, "codes") if os.path.isdir(os.path.join(path, "codes")) else path
        if meta.index_type == "INVERTED":
            for part in ("postings", "doclens"):
                read_table(spark, os.path.join(path, part)).cache().count()
        else:
            read_table(spark, sub).cache().count()

    def shallow_clone(self, dest_uri: str) -> "LanceDataset":
        """Zero-copy clone (dataset.py:3328 shallow_clone; Operation::Clone,
        transaction.rs): the clone's manifest references the source's data,
        deletion, and index files *in place* by absolute path — O(metadata),
        no data movement. Subsequent writes land under the clone root, so the
        two datasets diverge independently; `cleanup_old_versions` on either
        root only ever deletes files under that root, never shared ones."""
        dest = os.path.abspath(dest_uri)
        if mf.latest_version(dest) is not None:
            raise ValueError(f"dataset already exists at {dest}")
        src = self.manifest

        def build(base: mf.Manifest | None, version: int) -> mf.Manifest:
            return mf.cloned_manifest(self.uri, src, version)

        mf.commit(dest, build, operation="clone")
        return LanceDataset(dest)

    def merge(self, spark: SparkSession, right: DataFrame, left_on: str, right_on: str | None = None) -> "LanceDataset":
        from lance_spark.evolution import merge

        return merge(self, spark, right, left_on, right_on)

    def create_index(
        self,
        spark: SparkSession,
        column: str,
        index_type: str = "IVF_PQ",
        name: str | None = None,
        num_partitions: int | None = None,
        num_sub_vectors: int | None = None,
        metric: str = "cosine",
        train: bool = True,
        accelerator=None,
        packed: bool | None = None,
    ) -> "LanceDataset":
        """``accelerator`` ("cuda" / "mps" / torch device — reference
        dataset.py:2585) accelerates kmeans training when torch and the
        device are present; otherwise falls back to CPU with a warning.
        ``packed`` declares hamming vectors as uint8-packed bytes (True) or
        0/1 bits (False); None infers from a sample — ambiguous for very
        sparse packed data, so packed datasets should declare it."""
        if not train:
            # reference parity: vector indices require training
            # (test_create_empty_index.py expects NotImplementedError)
            raise NotImplementedError("train=False is not supported for vector indices")
        from lance_spark.indexes.vector import create_dataset_index

        return create_dataset_index(
            self, spark, column, name, index_type, num_partitions, num_sub_vectors,
            metric, accelerator=accelerator, packed=packed,
        )

    def get_ivf_model(self, index_name: str):
        """IVF model handle for a vector index (reference dataset.py:3495-3507
        ``get_ivf_model`` → PyIvfModel): exposes ``.centroids`` (numpy
        [num_partitions, dim]), ``.metric``, ``.index_type``. Works for every
        IVF_* variant — HNSW builds its graphs over the same IVF layout."""
        from lance_spark.indexes.vector import IvfIndex

        meta = next((i for i in self.manifest.indices if i.name == index_name), None)
        if meta is None:
            raise KeyError(f"index not found: {index_name}")
        if not meta.index_type.startswith("IVF"):
            raise ValueError(f"{index_name} is {meta.index_type}, not an IVF index")
        return IvfIndex(self._abs(meta.path))

    def centroids(self, *, index_name: str | None = None, column: str | None = None):
        """IVF centroids by index name or column (reference
        dataset.py:3518-3545)."""
        if index_name is None:
            if column is None:
                raise ValueError("Must provide 'index_name' or 'column'.")
            index_name = next(
                (
                    i.name
                    for i in self.manifest.indices
                    if i.column == column and i.index_type.startswith("IVF")
                ),
                None,
            )
            if index_name is None:
                raise KeyError(f"No IVF index for column '{column}'")
        return self.get_ivf_model(index_name).centroids

    def create_scalar_index(
        self, spark: SparkSession, column: str, kind: str, name: str | None = None,
        params: dict | None = None, train: bool = True,
    ) -> "LanceDataset":
        from lance_spark.indexes.scalar import create_scalar_index

        return create_scalar_index(self, spark, column, kind, name, params, train=train)

    def scan_with_index(
        self, spark: SparkSession, filter: str, columns: list[str] | None = None  # noqa: A002
    ) -> DataFrame:
        from lance_spark.indexes.scalar import scan_with_index

        return scan_with_index(self, spark, filter, columns)

    def drop_index(self, name: str) -> "LanceDataset":
        from lance_spark import manifest as mf

        def build(base, version):
            return mf.Manifest.evolve(
                base, version, operation="drop_index",
                indices=[i for i in base.indices if i.name != name],
            )

        mf.commit(self.uri, build, operation="drop_index")
        return LanceDataset(self.uri)

    def nearest(
        self,
        spark: SparkSession,
        column: str,
        query: list[float],
        k: int = 10,
        nprobes: int = 4,
        refine_factor: int = 1,
        use_index: bool = True,
        filter: str | None = None,  # noqa: A002 - reference API name
        fast_search: bool = False,
        ef_search: int = 64,
        with_row_id: bool = False,
        overfetch: int = 10,
        metric: str | None = None,
    ) -> DataFrame:
        """``query`` may be ONE vector or a LIST of vectors — the latter is
        a multivector query (reference _coerce_query_vector,
        dataset.py:5309-5322) and requires a multivector-column index;
        ``overfetch`` is the XTR candidate over-fetch (multivector only).
        ``metric`` defaults to the index's metric and is REQUIRED when no
        index exists (nearest_join enforces the same)."""
        from lance_spark.indexes.vector import dataset_nearest

        return dataset_nearest(
            self, spark, column, query, k, nprobes, refine_factor, use_index,
            filter=filter, fast_search=fast_search, ef_search=ef_search,
            with_row_id=with_row_id, overfetch=overfetch, metric=metric,
        )

    def nearest_join(
        self,
        spark: SparkSession,
        column: str,
        queries: DataFrame,
        query_vec_col: str,
        query_id_col: str,
        k: int = 10,
        nprobes: int = 4,
        use_codes: bool = False,
        refine_factor: int = 4,
        fast_search: bool = False,
        metric: str | None = None,
        overfetch: int = 10,
    ) -> DataFrame:
        """Bulk ``nearest``: top-k live rows for EVERY row of a query
        table → (query_id, _rowid, _distance); index-pruned via ann_join,
        unindexed tail unioned, deletions masked (indexes/vector.py:
        dataset_nearest_join). ``metric`` defaults to the index's metric;
        required when no index exists (no silent cosine fallback)."""
        from lance_spark.indexes.vector import dataset_nearest_join

        return dataset_nearest_join(
            self, spark, column, queries, query_vec_col, query_id_col, k=k,
            nprobes=nprobes, use_codes=use_codes, refine_factor=refine_factor,
            fast_search=fast_search, metric=metric, overfetch=overfetch,
        )

    def compact_files(self, spark: SparkSession, target_rows_per_fragment: int = 1024 * 1024) -> "LanceDataset":
        from lance_spark.maintenance import compact_files

        return compact_files(self, spark, target_rows_per_fragment)

    def cleanup_old_versions(
        self,
        older_than_seconds: float | None = None,
        keep_tagged: bool = True,
        delete_unverified: bool = False,
        retain_versions: int | None = None,
        older_than=None,
    ) -> int:
        """GC old versions. ``older_than`` takes the reference's timedelta
        (dataset.py:2180); ``older_than_seconds`` is the float alias. Both
        unset → the reference's two-week default."""
        from lance_spark.maintenance import cleanup_old_versions

        return cleanup_old_versions(
            self, older_than_seconds, keep_tagged, delete_unverified,
            retain_versions, older_than=older_than,
        )

    def optimize_indices(
        self,
        spark: SparkSession,
        num_indices_to_merge: int | None = None,
        index_names: list[str] | None = None,
        retrain: bool = False,
    ) -> "LanceDataset":
        from lance_spark.maintenance import optimize_indices

        return optimize_indices(
            self, spark, num_indices_to_merge=num_indices_to_merge,
            index_names=index_names, retrain=retrain,
        )


class _SpanUnavailable(Exception):
    """Parser produced a plan but a node lacks usable origin offsets."""


def _find_closing_paren(query: str, search_from: int) -> int:
    """Index of the next ``)`` at or after ``search_from`` that is not
    inside a ``--`` line comment, a ``/* */`` block comment, or a
    ``'...'``/backtick literal — so ``fts('x' /* :) */)`` splices at the
    call's real closing paren, not the smiley inside the comment."""
    i, n = search_from, len(query)
    while i < n:
        ch = query[i]
        if ch == ")":
            return i
        if ch == "-" and query.startswith("--", i):
            nl = query.find("\n", i)
            i = n if nl == -1 else nl + 1
        elif ch == "/" and query.startswith("/*", i):
            close = query.find("*/", i + 2)
            if close == -1:
                raise ValueError("unterminated block comment")
            i = close + 2
        elif ch == "'":
            i += 1
            while i < n:
                if query[i] == "\\" and i + 1 < n:
                    i += 2
                    continue
                if query[i] == "'":
                    if i + 1 < n and query[i + 1] == "'":
                        i += 2
                        continue
                    i += 1
                    break
                i += 1
        elif ch == "`":
            nxt = query.find("`", i + 1)
            if nxt == -1:
                raise ValueError("unterminated backtick identifier")
            i = nxt + 1
        else:
            i += 1
    raise ValueError("no closing paren found")


def _locate_fts_calls_via_parser(
    spark: SparkSession, query: str
) -> list[tuple[int, int, list[str]]] | None:
    """Find every ``fts(...)`` table-function call in ``query`` using
    Spark's SQL parser. Returns ``[(start, end_inclusive, args), ...]``
    sorted by position — the span covers exactly ``fts( ... )`` (computed
    from the TVF node's origin start and the closing paren after its last
    literal argument, so a trailing table alias inside the node's origin
    span is preserved). Returns ``None`` when the parser path is
    unavailable (no classic JVM session, query fails to parse, or origins
    are missing) — the caller then uses the scanner fallback. Raises
    ``ValueError`` for fts() calls with non-literal arguments."""
    try:
        jparser = spark._jsparkSession.sessionState().sqlParser()
        plan = jparser.parsePlan(query)
    except ValueError:
        raise
    except Exception:
        return None

    found: dict[int, tuple[int, int, list[str]]] = {}

    def collect(node) -> None:
        nm = node.name()
        if nm.length() != 1 or str(nm.apply(0)).lower() != "fts":
            return
        origin = node.origin()
        if not origin.startIndex().isDefined():
            raise _SpanUnavailable
        start = origin.startIndex().get()
        args: list[str] = []
        last_stop = None
        fargs = node.functionArgs()
        for i in range(fargs.length()):
            a = fargs.apply(i)
            if not a.foldable():
                raise ValueError(
                    "fts() arguments must be literal strings; got a "
                    f"non-constant expression: {a.sql()}"
                )
            v = a.eval(None)
            args.append("" if v is None else str(v))
            ao = a.origin()
            if ao.stopIndex().isDefined():
                stop = ao.stopIndex().get()
                if last_stop is None or stop > last_stop:
                    last_stop = stop
        try:
            search_from = (
                last_stop + 1 if last_stop is not None else query.index("(", start) + 1
            )
            end = _find_closing_paren(query, search_from)
        except ValueError as exc:  # pragma: no cover — parsed SQL has the paren
            raise _SpanUnavailable from exc
        found[start] = (start, end, args)

    def visit_plan(node) -> None:
        if node.getClass().getSimpleName() == "UnresolvedTableValuedFunction":
            collect(node)
        ch = node.children()
        for i in range(ch.length()):
            visit_plan(ch.apply(i))
        # CTE bodies hang off innerChildren (UnresolvedWith); guard only the
        # accessor so ValueError / _SpanUnavailable raised while visiting a
        # CTE's fts() call propagate like they do for children()
        try:
            ic = node.innerChildren()
        except Exception:
            ic = None
        if ic is not None:
            for i in range(ic.length()):
                visit_plan(ic.apply(i))
        try:
            exprs = node.expressions()
        except Exception:
            return
        stack = [exprs.apply(i) for i in range(exprs.length())]
        while stack:
            e = stack.pop()
            try:
                visit_plan(e.plan())  # SubqueryExpression carries a plan
            except ValueError:
                raise
            except _SpanUnavailable:
                raise
            except Exception:
                pass
            ech = e.children()
            for i in range(ech.length()):
                stack.append(ech.apply(i))

    try:
        visit_plan(plan)
    except _SpanUnavailable:
        return None
    return [found[k] for k in sorted(found)]


def _split_sql_call_args(q: str, lparen: int) -> tuple[list[str], int]:
    """Split the args of a SQL call whose ``(`` is at ``lparen`` into
    unquoted strings; returns (args, index past the closing paren). Handles
    nested parens, single-quoted literals, and SQL ``''`` quote escapes —
    commas inside quotes (e.g. in a JSON argument) never split."""
    i, depth, args, cur, in_str = lparen + 1, 1, [], [], False
    while i < len(q):
        ch = q[i]
        if in_str:
            if ch == "'":
                if i + 1 < len(q) and q[i + 1] == "'":
                    cur.append("'")
                    i += 2
                    continue
                in_str = False
            else:
                cur.append(ch)
            i += 1
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            if depth == 0:
                s = "".join(cur).strip()
                if s or args:
                    args.append(s)
                return args, i + 1
            cur.append(ch)
        elif ch == "," and depth == 1:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    raise ValueError("unterminated fts(...) call in SQL text")


def _compat_filter(expr: str) -> str:
    """Reference filter dialect shims (rust/lance-datafusion/src/sql.rs:18-45):
    `==` tolerated, backtick idents already Spark-native."""
    # Spark SQL accepts `==` natively; nothing to rewrite today. Kept as the
    # single seam where dialect differences (regexp_match → rlike etc.) land.
    return expr


def arrow_filter_to_sql(expr) -> str:
    """pyarrow.compute.Expression → Spark SQL predicate string.

    The reference's scanner accepts pyarrow expressions alongside SQL
    (python/python/lance/dataset.py:4307); pyarrow exposes no public AST, so
    this converts the stable rendered form of the sargable surface —
    comparisons, and/or, invert(), is_valid/is_null, is_in — and rejects
    anything else loudly rather than mis-translating it."""
    return _rendered_arrow_to_sql(str(expr), expr)


def substrait_filter_to_sql(buf) -> str:
    """Substrait ExtendedExpression protobuf → Spark SQL predicate string.

    Third filter input form next to SQL strings and pyarrow expressions,
    mirroring the reference's Substrait support
    (rust/lance-datafusion/src/substrait.rs, sql.rs:18-45): the reference
    lowers Substrait to a DataFusion Expr; here pyarrow's bundled Substrait
    consumer lowers it to a bound pyarrow expression, whose positional
    field references (FieldPath(i)) are resolved to column names through
    the message's embedded schema, after which the pyarrow renderer path
    applies. Sargable subset only — anything else raises."""
    import re

    try:
        import pyarrow.substrait as pa_substrait
    except ImportError as e:  # pragma: no cover - pyarrow always bundles it
        raise NotImplementedError(
            "Substrait filter input requires pyarrow.substrait"
        ) from e

    bound = pa_substrait.deserialize_expressions(buf)
    exprs = dict(bound.expressions)
    if len(exprs) != 1:
        raise ValueError(
            f"expected exactly one Substrait filter expression, got {sorted(exprs)}"
        )
    (expr,) = exprs.values()
    names = [f.name for f in bound.schema]
    # Substitute FieldPath(i) → column name OUTSIDE string literals only: a
    # literal like == "FieldPath(1)" must stay a literal, not become a
    # column reference (the render uses double quotes for strings).
    parts = re.split(r'("(?:[^"\\]|\\.)*")', str(expr))
    s = "".join(
        p if i % 2 else re.sub(r"FieldPath\((\d+)\)", lambda m: names[int(m.group(1))], p)
        for i, p in enumerate(parts)
    )
    return _rendered_arrow_to_sql(s, expr)


def _rendered_arrow_to_sql(s: str, expr) -> str:
    import re

    def in_list(m: "re.Match[str]") -> str:
        vals = [v.strip() for v in m.group(2).split(",") if v.strip()]
        return f"({m.group(1)} IN ({', '.join(vals)}))"

    s = re.sub(
        r"is_in\((\w+), \{value_set=\w+:\[(.*?)\], null_matching_behavior=\w+\}\)",
        in_list,
        s,
        flags=re.DOTALL,
    )
    s = re.sub(r"is_valid\((\w+)\)", r"(\1 IS NOT NULL)", s)
    s = re.sub(r"is_null\((\w+)(?:, \{[^}]*\})?\)", r"(\1 IS NULL)", s)
    # invert(...) → NOT (...): the operand is always a parenthesized group
    while "invert(" in s:
        s = re.sub(r"invert\(", "NOT (", s, count=1)
    # Literal-aware final rewrites: '==' → '=' must not touch literal
    # CONTENTS ("a==b" is data), and the double→single quote conversion
    # must SQL-escape embedded single quotes ("O'Brien" → 'O''Brien') —
    # a blind global replace produced malformed or silently-different SQL.
    parts = re.split(r'("(?:[^"\\]|\\.)*")', s)
    out = []
    for i, p in enumerate(parts):
        if i % 2:  # a double-quoted string literal from pyarrow's renderer
            inner = p[1:-1].replace('\\"', '"').replace("\\\\", "\\")
            out.append("'" + inner.replace("'", "''") + "'")
        else:
            out.append(p.replace("==", "="))
    s = "".join(out)
    # leftover-call sanity check runs on the string with literals blanked —
    # a quoted literal containing "foo(" is data, not an unconverted call
    bare = re.sub(r"'[^']*'", "''", s)
    if re.search(r"[a-z_]+\(", bare.replace("NOT (", "")):
        raise ValueError(
            f"unsupported pyarrow expression (pass a SQL string instead): {expr}"
        )
    return s


class LanceStats:
    """Dataset statistics namespace (reference dataset.py:5038). Callable
    for back-compat with the flat ``ds.stats()`` dict."""

    def __init__(self, ds: "LanceDataset"):
        self._ds = ds

    def __call__(self) -> dict:
        m = self._ds.manifest
        return {
            "num_rows": sum(f.num_rows for f in m.fragments),
            "num_deleted_rows": sum(f.num_deleted_rows for f in m.fragments),
            "num_fragments": len(m.fragments),
            "num_small_files": sum(1 for f in m.fragments if f.physical_rows < 1024),
            "num_indices": len(m.indices),
            "version": m.version,
        }

    def dataset_stats(self, max_rows_per_group: int = 1024) -> dict:
        """Reference DatasetStats shape (dataset.py:5046)."""
        m = self._ds.manifest
        return {
            "num_deleted_rows": sum(f.num_deleted_rows for f in m.fragments),
            "num_fragments": len(m.fragments),
            "num_small_files": sum(
                1 for f in m.fragments if f.physical_rows < max_rows_per_group
            ),
        }

    def index_stats(self, index_name: str) -> dict:
        """Reference index_stats (dataset.py:5056)."""
        return self._ds.index_statistics(index_name)

    def data_stats(self, columns: list[str] | None = None) -> "DataStatistics":
        """Reference data_stats → DataStatistics (dataset.py:5068)."""
        return self._ds.data_statistics(columns)


class _RefManager:
    """Shared live-view machinery for Tags/Branches. NOT a dict subclass —
    every read re-lists the refs on disk, so a held manager never goes
    stale after a create/delete through another handle (the reference Tags
    is a live non-dict manager, dataset.py:4888). Mapping dunders + being
    callable keep this repo's original ``ds.tags()["name"]`` form working."""

    _kind = ""

    def __init__(self, ds: LanceDataset):
        self._ds = ds

    def _live(self) -> dict[str, int]:
        return mf.list_refs(self._ds.uri, self._kind)

    def __call__(self) -> dict[str, int]:
        return self._live()

    def list(self) -> dict[str, int]:
        return self._live()

    def __getitem__(self, name: str) -> int:
        return self._live()[name]

    def get(self, name: str, default=None):
        return self._live().get(name, default)

    def __contains__(self, name: str) -> bool:
        return name in self._live()

    def __iter__(self):
        return iter(self._live())

    def __len__(self) -> int:
        return len(self._live())

    def keys(self):
        return self._live().keys()

    def values(self):
        return self._live().values()

    def items(self):
        return self._live().items()

    def __eq__(self, other) -> bool:
        if isinstance(other, _RefManager):
            other = other._live()
        return self._live() == other

    def __ne__(self, other) -> bool:
        return not self.__eq__(other)

    def __repr__(self) -> str:
        return f"{type(self).__name__}({self._live()!r})"

    def _manifest_size(self, version: int) -> int:
        try:
            return os.path.getsize(mf.manifest_path(self._ds.uri, version))
        except OSError:
            return 0

    def list_ordered(self, order: str | None = None) -> list[tuple[str, dict]]:
        """Refs ordered by version (reference Tags.list_ordered /
        Branches.list_ordered, dataset.py:4923,5004). ``order`` is "asc"
        or "desc" (default "desc"); each entry carries the version and the
        manifest file size, the reference's Tag metadata shape
        (dataset.py:3655)."""
        order = (order or "desc").lower()
        if order not in ("asc", "desc"):
            raise ValueError(f"order must be 'asc' or 'desc', got {order!r}")
        entries = sorted(
            self._live().items(), key=lambda kv: (kv[1], kv[0]),
            reverse=(order == "desc"),
        )
        return [
            (name, {"version": v, "manifest_size": self._manifest_size(v)})
            for name, v in entries
        ]


class Tags(_RefManager):
    """Dataset tag manager (reference dataset.py:4888 ``Tags``): live view
    over {name: version} plus create/delete/update/get_version/
    list_ordered. ``branch=`` on create/update resolves the default
    version from that branch's head (reference passes branch through to
    create_tag, dataset.py:4941)."""

    _kind = "tags"

    def get_version(self, tag: str) -> int | None:
        """Version a tag points at, or None if absent (dataset.py:4907)."""
        return self.get(tag)

    def _resolve(self, version: int | None, branch: str | None) -> int:
        if version is not None:
            return version
        if branch is not None:
            return mf.resolve_ref(self._ds.uri, "branches", branch)
        return self._ds.version

    def create(self, tag: str, version: int | None = None,
               branch: str | None = None) -> None:
        self._ds.create_tag(tag, self._resolve(version, branch))

    def delete(self, tag: str) -> None:
        self._ds.delete_tag(tag)

    def update(self, tag: str, version: int | None = None,
               branch: str | None = None) -> None:
        self._ds.update_tag(tag, self._resolve(version, branch))


class Branches(_RefManager):
    """Dataset branch manager (reference dataset.py:4985 ``Branches``):
    live {name: head version} view with list/list_ordered/delete, callable
    for this repo's original ``ds.branches()`` form. Branch metadata here
    is the head version + manifest size — parent lineage is not recorded
    by this repo's flat ref store (documented divergence)."""

    _kind = "branches"

    def create(self, branch: str, version: int | None = None) -> None:
        self._ds.create_branch(branch, version)

    def delete(self, branch: str) -> None:
        self._ds.delete_branch(branch)


class AutoCleanupConfig(dict):
    """Auto-cleanup policy (reference dataset.py:3704 AutoCleanupConfig
    TypedDict): ``interval`` (run GC when version % interval == 0) and
    ``older_than_seconds`` (only versions older than this are dropped).
    ``retain_versions`` optionally keeps the newest N versions regardless
    of age (cleanup.rs:594)."""

    def __init__(self, interval: int, older_than_seconds: int,
                 retain_versions: int | None = None):
        super().__init__(interval=interval, older_than_seconds=older_than_seconds)
        if retain_versions is not None:
            self["retain_versions"] = retain_versions


class _OptimizeNamespace:
    """``ds.optimize`` (reference DatasetOptimizer, dataset.py:4731+)."""

    def __init__(self, ds: LanceDataset):
        self._ds = ds

    def compact_files(self, spark: SparkSession, target_rows_per_fragment: int = 1024 * 1024) -> LanceDataset:
        return self._ds.compact_files(spark, target_rows_per_fragment)

    def optimize_indices(self, spark: SparkSession, **kwargs) -> LanceDataset:
        return self._ds.optimize_indices(spark, **kwargs)

    def enable_auto_cleanup(self, auto_cleanup_config: dict) -> LanceDataset:
        """Store the auto-GC policy in dataset config (reference
        dataset.py:4864): every ``interval``-th version, commits trigger
        ``cleanup_old_versions(older_than)``. Keys mirror the reference's
        (``lance.auto_cleanup.interval`` / ``.older_than`` /
        ``.retain_versions``) so configs round-trip."""
        updates = {
            "lance.auto_cleanup.interval": str(auto_cleanup_config["interval"]),
            "lance.auto_cleanup.older_than": f"{auto_cleanup_config['older_than_seconds']}s",
        }
        if auto_cleanup_config.get("retain_versions") is not None:
            updates["lance.auto_cleanup.retain_versions"] = str(
                auto_cleanup_config["retain_versions"]
            )
        return self._ds.update_config(updates)

    def disable_auto_cleanup(self) -> LanceDataset:
        """Delete the auto-GC config keys (reference dataset.py:4881)."""
        return self._ds.delete_config_keys(
            "lance.auto_cleanup.interval",
            "lance.auto_cleanup.older_than",
            "lance.auto_cleanup.retain_versions",
        )


class SqlQuery:
    """Built query handle (reference dataset.py:3546-3580 SqlQuery)."""

    def __init__(self, df: DataFrame):
        self._df = df

    def to_df(self) -> DataFrame:
        return self._df

    def to_batch_records(self) -> list:
        """Arrow batches (reference to_batch_records)."""
        return self._df.toArrow().to_batches()

    def to_stream_reader(self):
        """RecordBatchReader (reference to_stream_reader)."""
        import pyarrow as pa

        t = self._df.toArrow()
        return pa.RecordBatchReader.from_batches(t.schema, t.to_batches())


class SqlQueryBuilder:
    """Fluent SQL builder (reference dataset.py:3581-3639): table_name /
    with_row_id / with_row_addr accumulate scan options; ``build(spark)``
    registers the view and plans the query."""

    def __init__(self, ds: LanceDataset, query: str):
        self._ds = ds
        self._query = query
        self._table_name = "dataset"
        self._with_row_id = False
        self._with_row_addr = False

    def table_name(self, name: str) -> "SqlQueryBuilder":
        self._table_name = name
        return self

    def with_row_id(self, flag: bool = True) -> "SqlQueryBuilder":
        self._with_row_id = flag
        return self

    def with_row_addr(self, flag: bool = True) -> "SqlQueryBuilder":
        self._with_row_addr = flag
        return self

    def build(self, spark: SparkSession) -> SqlQuery:
        df = self._ds.to_df(spark, with_row_id=self._with_row_id or self._with_row_addr)
        if self._with_row_addr:
            df = self._ds._attach_row_address(spark, df)
            if not self._with_row_id:
                df = df.drop(ROWID_COL)
        df.createOrReplaceTempView(self._table_name)
        return SqlQuery(spark.sql(self._query))


class ColumnOrdering:
    """Sort rule for scanner(order_by=...) (reference dataset.py:4169-4178;
    defaults match the reference: ascending, nulls FIRST)."""

    def __init__(self, column_name: str, ascending: bool = True, nulls_first: bool = True):
        self.column_name = column_name
        self.ascending = ascending
        self.nulls_first = nulls_first


class Session:
    """Process-wide metadata cache stats (reference Session, session.rs;
    dataset.py:3039)."""

    def size_bytes(self) -> int:
        return mf.manifest_cache_stats()["size_bytes"]

    def approx_num_items(self) -> int:
        return mf.manifest_cache_stats()["approx_num_items"]

    def stats(self) -> dict:
        return mf.manifest_cache_stats()

    def clear(self) -> None:
        mf.clear_manifest_cache()


class VectorIndexReader:
    """Reader over a built vector index's partitions (reference
    dataset.py:5404 ``VectorIndexReader``): partition count, centroids,
    and per-partition point reads — the introspection surface a
    re-ranking or diagnostics tool uses without running a search.

    Raises ``ValueError`` when ``index_name`` is not a vector index,
    like the reference."""

    def __init__(self, dataset: "LanceDataset", index_name: str):
        meta = next(
            (i for i in dataset.manifest.indices if i.name == index_name), None
        )
        if meta is None or not meta.index_type.startswith("IVF"):
            raise ValueError(f"Index {index_name} is not vector index")
        self.dataset = dataset
        self.index_name = index_name
        self._index = dataset.get_ivf_model(index_name)

    def num_partitions(self) -> int:
        """Number of IVF partitions."""
        return int(self._index.centroids.shape[0])

    def centroids(self):
        """Centroids, shape (num_partitions, dim)."""
        import numpy as np

        return np.array(self._index.centroids)

    def read_partition(self, partition_id: int, *, with_vector: bool = False):
        """pyarrow Table of one IVF partition: ``_rowid`` plus, with
        ``with_vector``, the stored vectors (IVF_FLAT) or quantized codes
        (IVF_PQ/SQ/RQ — the reference returns PQ codes there too). A
        partition + column predicate pushed into the codes parquet —
        a point read, never an index scan."""
        import pyarrow.dataset as pads

        if partition_id < 0 or partition_id >= self.num_partitions():
            raise IndexError(
                f"Partition id {partition_id} is out of range, "
                f"expected 0 <= partition_id < {self.num_partitions()}"
            )
        dset = pads.dataset(
            [pads.dataset(p, partitioning="hive") for p in self._index.codes_paths()]
        )
        # FLAT-family indexes store no quantized codes (pq_code is null);
        # their vector column IS the raw vectors
        vec_col = (
            "vec"
            if self._index.index_type in ("IVF_FLAT", "IVF_HNSW_FLAT")
            else "pq_code"
        )
        cols = ["id"] + ([vec_col] if with_vector else [])
        tbl = dset.to_table(
            columns=cols, filter=pads.field("partition_id") == int(partition_id)
        )
        return tbl.rename_columns(["_rowid"] + cols[1:])
