"""Per-fragment handle: the reference's ``LanceFragment`` surface.

Reference: python/python/lance/fragment.py:252-851 — a fragment is an
addressable sub-table with its own scanner/count_rows/head/take/to_table,
fragment-scoped ``delete``, and metadata accessors. There it subclasses
``pa.dataset.Fragment`` over Rust; here every read delegates to
``ds.scanner(fragments=[id])`` so the fragment handle is just a pushed
fragment-prune on the normal scan plan (the parquet scan reads only this
fragment's files), and mutations delegate to the dataset-level operators
whose deletion-sidecar/commit machinery is already fragment-granular.

``LanceFragment.delete(predicate)`` mirrors fragment.py:780-824: the
predicate is scoped to this fragment via a ``_rowid`` range conjunction —
other fragments are untouched by construction, and the commit is the
standard one-fragment deletion-file swap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lance_spark import manifest as mf
from lance_spark.write import ROWID_COL


class LanceFragment:
    def __init__(self, ds, fragment_id: int):
        self._ds = ds
        self.id = fragment_id
        self._meta = next(
            (f for f in ds.manifest.fragments if f.id == fragment_id), None
        )
        if self._meta is None:
            raise ValueError(f"fragment {fragment_id} does not exist")

    def __repr__(self) -> str:
        return f"LanceFragment(id={self.id}, rows={self.count_rows()})"

    # ------------------------------------------------------------ metadata

    @property
    def fragment_id(self) -> int:
        return self.id

    @property
    def metadata(self) -> mf.Fragment:
        return self._meta

    @property
    def physical_rows(self) -> int:
        return self._meta.physical_rows

    @property
    def num_deletions(self) -> int:
        return self._meta.num_deleted_rows

    def count_rows(self, filter: str | None = None, spark: SparkSession | None = None) -> int:  # noqa: A002
        if filter is None:
            return self._meta.num_rows
        if spark is None:
            from pyspark.sql import SparkSession as _S

            spark = _S.getActiveSession()
            if spark is None:  # clear error, not a deep AttributeError (r12)
                raise ValueError("count_rows(filter=...) needs a SparkSession")
        return self.scanner(spark, columns=[], filter=filter).count()

    def data_files(self) -> list[mf.DataFile]:
        return list(self._meta.files)

    @property
    def deletion_file(self) -> str | None:
        return self._meta.deletion_file

    @property
    def schema(self):
        """Logical (dataset) schema — fragments share it (fragment.py:531)."""
        return self._ds.schema

    @property
    def physical_schema(self):
        """Arrow schema of this fragment's primary data file footer
        (fragment.py:525 — includes meta columns like _rowid)."""
        import pyarrow.parquet as pq

        return pq.read_schema(self._ds._abs(self._meta.files[0].path))

    def partition_expression(self):
        raise NotImplementedError("partitioning not yet supported")

    # ------------------------------------------------------------ creation

    @staticmethod
    def create(
        dataset_uri: str,
        data,
        fragment_id: int | None = None,
        schema=None,
        max_rows_per_group: int = 1024,
        progress=None,
        mode: str = "append",
        storage_options: dict | None = None,
    ) -> mf.Fragment:
        """Write ONE fragment's data files WITHOUT committing (reference
        fragment.py:304 — the distributed-write primitive: every worker
        calls create(), a coordinator commits the returned metadata with
        ``LanceOperation.Append`` / ``commit_fragments``). ``data`` takes
        the full ReaderLike breadth (Spark/pandas/arrow/list-of-dicts).
        ``fragment_id`` defaults to a reserved id on an existing dataset
        (so concurrent workers can't collide), else 0.

        ``max_rows_per_group`` / ``mode`` / ``storage_options`` are
        accepted for reference call-site compatibility and intentionally
        ignored: row-group sizing belongs to the parquet writer defaults,
        schema field-id assignment is name-based here, and the local-fs
        backend takes no credentials."""
        import os

        from lance_spark.write import input_to_spark_df, project_to_schema, write_fragments

        sdf = input_to_spark_df(data)
        if schema is not None:
            # project AND cast (same helper as write_dataset(schema=...)) so
            # worker-written fragments can't end up with parquet types that
            # diverge from the schema a coordinator later commits
            sdf = project_to_schema(sdf, schema)
        os.makedirs(dataset_uri, exist_ok=True)
        if fragment_id is None:
            fragment_id = (
                mf.reserve_fragment_ids(dataset_uri, 1)
                if mf.latest_version(dataset_uri) is not None
                else 0
            )
        if mf.latest_version(dataset_uri) is not None:
            # DataFile.columns hold PHYSICAL names on datasets with renamed
            # columns — rename the worker's logically-named frame back
            # before writing (r12 review; mutation/compaction do the same)
            base_m = mf.read_manifest(dataset_uri)
            for physical, logical in base_m.config.get("column_renames", {}).items():
                if logical in sdf.columns:
                    sdf = sdf.withColumnRenamed(logical, physical)
        frags = write_fragments(
            sdf.coalesce(1), dataset_uri, fragment_id, progress=progress
        )
        if not frags:
            raise ValueError("cannot create a fragment from empty data")
        return frags[0]

    @staticmethod
    def create_from_file(filename: str, dataset, fragment_id: int) -> mf.Fragment:
        """Wrap an existing data file as fragment metadata (reference
        fragment.py:279 — re-attach a datafile lost from the dataset).
        Row count comes from the parquet footer; columns from its schema
        minus the materialized ``_rowid`` (the same rule the write path
        uses, so layouts stay consistent across fragments).

        The file's embedded ``_rowid`` values name the fragment they were
        written for — re-attaching under a DIFFERENT id would silently
        corrupt every rowid-scoped operation (fragment-scoped delete,
        take, merge_columns), so the prefix is validated against
        ``fragment_id`` while rowids are fragment-addressable."""
        import os

        from lance_spark.write import FRAGID_SHIFT, ROWID_COL

        import pyarrow.parquet as pq

        path = (
            os.path.relpath(filename, dataset.uri)
            if os.path.isabs(filename)
            else filename
        )
        abspath = os.path.join(dataset.uri, path)
        md = pq.read_metadata(abspath)
        schema = pq.read_schema(abspath)
        cols = [n for n in schema.names if n != ROWID_COL]
        if ROWID_COL in schema.names and dataset._rowid_addressable():
            f = pq.ParquetFile(abspath)
            idx = schema.names.index(ROWID_COL)
            for g in range(f.metadata.num_row_groups):
                st = f.metadata.row_group(g).column(idx).statistics
                if st is None or st.min is None:
                    continue
                for bound in (st.min, st.max):
                    if bound >> FRAGID_SHIFT != fragment_id:
                        raise ValueError(
                            f"file {path} holds rowids of fragment "
                            f"{bound >> FRAGID_SHIFT}, cannot attach as "
                            f"fragment {fragment_id}"
                        )
        return mf.Fragment(
            id=fragment_id,
            files=[mf.DataFile(path=path, columns=cols)],
            physical_rows=md.num_rows,
        )

    # ---------------------------------------------------- column evolution

    def merge_columns(
        self,
        spark: SparkSession,
        value_func,
        columns: list[str] | None = None,
    ) -> tuple[mf.Fragment, list[dict]]:
        """Compute new columns for THIS fragment and write its column-group
        file WITHOUT committing (reference fragment.py:585 merge_columns →
        (FragmentMetadata, schema)) — the distributed add_columns
        primitive: each worker merges its fragments, the coordinator
        applies ONE ``LanceOperation.Merge`` commit with the updated
        fragment list + extended schema.

        ``value_func``: callable(pandas.DataFrame) -> pandas.DataFrame over
        ``columns``, or a {name: sql_expr} dict. Returns the updated
        fragment metadata and the new fields (schema JSON dicts)."""
        from lance_spark.evolution import (
            _write_column_groups,
            new_fields_json,
            transforms_to_new_df,
        )

        if self._meta.num_rows == 0:
            raise ValueError(
                f"fragment {self.id} has no live rows; nothing to merge"
            )
        base = self.scanner(spark, with_row_id=True)
        new_df, new_cols = transforms_to_new_df(
            base, value_func, columns or self._ds.columns, spark
        )
        collide = set(new_cols) & set(self._ds.columns)
        if collide:
            raise ValueError(f"columns already exist: {sorted(collide)}")
        cg_map = _write_column_groups(
            self._ds, spark, new_df, new_cols, fragments=[self.id]
        )
        path = cg_map[self.id]
        meta = self._meta
        new_frag = mf.Fragment(
            id=meta.id,
            files=[*meta.files, mf.DataFile(path=path, columns=new_cols)],
            physical_rows=meta.physical_rows,
            deletion_file=meta.deletion_file,
            num_deleted_rows=meta.num_deleted_rows,
        )
        return new_frag, new_fields_json(new_df, new_cols)

    def merge(
        self,
        spark: SparkSession,
        data_obj,
        left_on: str,
        right_on: str | None = None,
        schema=None,
    ) -> tuple[mf.Fragment, "object"]:
        """Attach the right side's columns to THIS fragment by key
        (reference fragment.py:551 ``merge`` → (FragmentMetadata,
        LanceSchema)): a left join where the fragment is the left side;
        unmatched rows get nulls. Per-fragment distributed primitive — each
        worker merges its fragments, the coordinator commits ONE
        ``LanceOperation.Merge(fragments, schema)`` with the returned
        schema (the reference loop shape: ``f, schema = f.merge(...)``)."""
        from lance_spark.evolution import _write_column_groups, new_fields_json
        from lance_spark.types import LanceSchema
        from lance_spark.write import ROWID_COL, input_to_spark_df

        right_on = right_on or left_on
        if self._meta.num_rows == 0:
            # merge_columns guards this; a raw cg_map KeyError leaked here
            raise ValueError(
                f"fragment {self.id} has no live rows; nothing to merge"
            )
        right = input_to_spark_df(data_obj)
        if schema is not None:
            from lance_spark.write import project_to_schema

            right = project_to_schema(right, schema)
        new_cols = [c for c in right.columns if c != right_on]
        collide = set(new_cols) & set(self._ds.columns)
        if collide:
            raise ValueError(f"columns already exist: {sorted(collide)}")
        if left_on not in self._ds.columns:
            raise ValueError(f"left_on {left_on!r} is not a dataset column")
        from lance_spark.evolution import dedup_right_keys

        base = self.scanner(spark, columns=[left_on], with_row_id=True)
        joined = base.join(
            dedup_right_keys(right.withColumnRenamed(right_on, left_on), left_on),
            on=left_on,
            how="left",
        ).select(ROWID_COL, *new_cols)
        cg_map = _write_column_groups(
            self._ds, spark, joined, new_cols, fragments=[self.id]
        )
        meta = self._meta
        new_frag = mf.Fragment(
            id=meta.id,
            files=[*meta.files, mf.DataFile(path=cg_map[self.id], columns=new_cols)],
            physical_rows=meta.physical_rows,
            deletion_file=meta.deletion_file,
            num_deleted_rows=meta.num_deleted_rows,
        )
        merged_json = {
            "type": "struct",
            "fields": self._ds.manifest.schema_json["fields"]
            + new_fields_json(joined, new_cols),
        }
        return new_frag, LanceSchema(merged_json)

    def update_columns(
        self,
        spark: SparkSession,
        data_obj,
        left_on: str = "_rowid",
        right_on: str | None = None,
    ) -> tuple[mf.Fragment, list[int]]:
        """Overwrite EXISTING columns' values in this fragment by key
        (reference fragment.py:623 ``update_columns`` → (FragmentMetadata,
        changed field ids)): a left-outer join — rows the right side
        misses keep their old value. Rewrites only the column-group files
        that own an updated column (sorted by _rowid, so footer-stats take
        pruning still holds); the coordinator commits the returned
        fragments via ``LanceOperation.DataReplacement`` or ``Update``."""
        import os
        import uuid

        from lance_spark.write import ROWID_COL, input_to_spark_df

        right_on = right_on or left_on
        right = input_to_spark_df(data_obj)
        upd_cols = [c for c in right.columns if c != right_on]
        unknown = set(upd_cols) - set(self._ds.columns)
        if unknown:
            raise ValueError(f"cannot update nonexistent columns: {sorted(unknown)}")
        if not upd_cols:
            raise ValueError("no update columns (right side has only the key)")
        key_ok = left_on == ROWID_COL or left_on in self._ds.columns
        if not key_ok:
            raise ValueError(f"left_on {left_on!r} is not a dataset column")

        # include DELETED rows: this rewrites files that physically contain
        # them — dropping them here would silently shrink the file below
        # physical_rows and desync it from its sibling column groups
        from lance_spark.evolution import dedup_right_keys

        base = self.scanner(spark, with_row_id=True, include_deleted_rows=True)
        r2 = right.withColumnRenamed(right_on, left_on).select(
            left_on, *[F.col(c).alias(f"__new_{c}") for c in upd_cols]
        )
        # duplicate right keys would fan the rewrite out past physical_rows
        # and desync the file from its sibling column groups (r12 review —
        # merge() already deduped, update_columns did not)
        joined = base.join(dedup_right_keys(r2, left_on), on=left_on, how="left")

        # DataFile.columns hold PHYSICAL names while the scanner frame
        # carries LOGICAL ones — translate per file (r12 review, the same
        # invariant commit e435ef5 fixed in compaction/mutation)
        renames = self._ds.manifest.config.get("column_renames", {})

        new_files = []
        for df_meta in self._meta.files:
            logical_cols = [renames.get(c, c) for c in df_meta.columns]
            if not set(logical_cols) & set(upd_cols):
                new_files.append(df_meta)
                continue
            cols = [
                (
                    F.coalesce(
                        F.col(f"__new_{lc}").cast(base.schema[lc].dataType), F.col(lc)
                    ).alias(pc)
                    if lc in upd_cols
                    else F.col(lc).alias(pc)
                )
                for pc, lc in zip(df_meta.columns, logical_cols)
            ]
            rel = os.path.join("data", f"update-{self.id}-{uuid.uuid4().hex[:8]}.parquet")
            out_dir = os.path.join(self._ds.uri, f"__tmp_upd_{uuid.uuid4().hex[:8]}")
            (
                joined.select(ROWID_COL, *cols)
                .orderBy(ROWID_COL)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(out_dir)
            )
            part = next(p for p in os.listdir(out_dir) if p.endswith(".parquet"))
            os.makedirs(os.path.join(self._ds.uri, "data"), exist_ok=True)
            os.replace(os.path.join(out_dir, part), os.path.join(self._ds.uri, rel))
            import shutil

            shutil.rmtree(out_dir, ignore_errors=True)
            new_files.append(mf.DataFile(path=rel, columns=list(df_meta.columns)))

        new_frag = mf.Fragment(
            id=self._meta.id,
            files=new_files,
            physical_rows=self._meta.physical_rows,
            deletion_file=self._meta.deletion_file,
            num_deleted_rows=self._meta.num_deleted_rows,
        )
        order = {name: i for i, name in enumerate(self._ds.columns)}
        return new_frag, sorted(order[c] for c in upd_cols)

    # ---------------------------------------------------------------- reads

    def open_session(
        self, spark: SparkSession, columns=None, with_row_address: bool = False
    ) -> "FragmentSession":
        """Short-lived repeated-read handle over a fixed projection
        (reference fragment.py:477 ``open_session`` → FragmentSession):
        the projected fragment DataFrame is built ONCE and cached, so
        repeated ``take`` calls skip plan re-resolution and re-scan."""
        return FragmentSession(self, spark, columns, with_row_address)

    def scanner(self, spark: SparkSession, **kwargs) -> DataFrame:
        """ds.scanner restricted to this fragment (fragment.py:439-476)."""
        return self._ds.scanner(spark, fragments=[self.id], **kwargs)

    def to_table(self, spark: SparkSession, columns=None, filter: str | None = None):  # noqa: A002
        return self.scanner(spark, columns=columns, filter=filter).toArrow()

    def to_batches(self, spark: SparkSession, columns=None, filter: str | None = None):  # noqa: A002
        return self.to_table(spark, columns=columns, filter=filter).to_batches()

    def head(self, spark: SparkSession, num_rows: int):
        return self.scanner(spark, limit=num_rows).toArrow()

    def take(self, spark: SparkSession, indices: list[int], columns=None):
        """Rows by position WITHIN the fragment (fragment.py:499-505):
        positions offset into this fragment's _rowid space. Post-compaction
        the offset arithmetic is meaningless (rowids are preserved, not
        re-based) — positions then index LIVE rows in _rowid order, the
        FragmentSession semantics (r12 review: the old arithmetic silently
        returned an EMPTY table on compacted fragments)."""
        if self._ds._rowid_addressable():
            from lance_spark.write import FRAGID_SHIFT

            base = self.id << FRAGID_SHIFT
            rowids = [base + int(i) for i in indices]
            return self._ds.take(spark, rowids, columns=columns)
        return self.open_session(spark, columns=columns).take(indices)

    # ------------------------------------------------------------ mutation

    def delete(self, spark: SparkSession, predicate: str):
        """Fragment-scoped delete (fragment.py:780-824): the predicate scans
        this fragment's files only, so only its deletion sidecar changes.
        Returns the updated dataset (functional, like all mutations here)."""
        from lance_spark.mutation import delete

        return delete(self._ds, spark, predicate, fragments=[self.id])


class FragmentSession:
    """Repeated-read session over one fragment's fixed projection
    (reference fragment.py:1008 ``FragmentSession``): the projected
    DataFrame is resolved once and cached in Spark's block store, so a
    stream of ``take(indices)`` calls pays plan resolution and the
    fragment scan once."""

    def __init__(self, frag: LanceFragment, spark: SparkSession, columns, with_row_address: bool):
        from pyspark.sql import Window
        from lance_spark.write import ROWID_COL

        self._frag = frag
        self._spark = spark
        # positions index LIVE rows in _rowid order — materialized as an
        # explicit row_number so takes stay correct on fragments with
        # deletions and on post-compaction rowids (which no longer encode
        # fragment<<32|offset). Single-fragment window: bounded by one
        # fragment's rows, the same bound the whole session carries.
        w = Window.orderBy(ROWID_COL)
        self._df = (
            frag.scanner(
                spark, columns=columns, with_row_id=True,
                with_row_address=with_row_address,
            )
            .withColumn("__pos", F.row_number().over(w) - 1)
            .cache()
        )
        self._rowid = ROWID_COL

    def take(self, indices: list[int]):
        """Rows by position within the fragment → pyarrow.Table."""
        out = self._df.filter(F.col("__pos").isin([int(i) for i in indices]))
        keep = [c for c in self._df.columns if c not in (self._rowid, "__pos")]
        return out.select(*keep, self._rowid).toArrow()

    def close(self) -> None:
        self._df.unpersist()

    def __enter__(self) -> "FragmentSession":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
