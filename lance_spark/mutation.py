"""Mutations: delete / update / merge_insert.

Reference semantics (WHAT):
  - delete(predicate) → new deletion files, fragments fully deleted are
    dropped (python/python/lance/dataset.py:1861, rust/lance/src/dataset/
    write/delete.rs).
  - update(values, where) → matched rows rewritten with SQL-expr assignments;
    originals masked by deletion vectors (dataset.py:2046,
    dataset/write/update.rs:58-252).
  - merge_insert(on).when_matched_update_all(cond)
      .when_not_matched_insert_all()
      .when_not_matched_by_source_delete(expr) → MERGE INTO: join source and
    target on key, route each row to an action (dataset.py:90-401,
    rust/lance/src/dataset/write/merge_insert.rs:204-284, join plan :690).

Spark-first HOW: all three reduce to ONE primitive —
``_apply_deletes_and_appends`` — which writes per-fragment deletion sidecars
(distributed, one applyInPandas group per fragment) plus appended fragments,
then commits a single manifest version. Unchanged rows are never rewritten,
so cost is O(changed rows), not O(table) — the property that matters at
100 TB. The merge join is a plain DataFrame join, so Catalyst/AQE picks
broadcast vs shuffle and handles skew.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from lance_spark import manifest as mf
from lance_spark.write import ROWID_COL, write_fragments

_DEL_META_SCHEMA = StructType(
    [
        StructField("fragment_id", LongType()),
        StructField("path", StringType()),
        StructField("num_deleted", LongType()),
    ]
)


def _write_deletion_files(ds, spark: SparkSession, del_rowids: DataFrame) -> dict[int, tuple[str, int]]:
    """Write one deletion sidecar per affected fragment in a single grouped
    pass; returns {fragment_id: (rel_path, total_deleted_rows)}.

    Each fragment's group task unions its new deletions with the
    fragment's existing sidecar (read locally with pyarrow from the
    ``{fragment_id: abs sidecar path}`` map, bounded by the fragment
    count), so each version keeps one sidecar per fragment and only the
    affected fragments' sidecars are rewritten — a fragment with no new
    deletions forms no group."""
    root = ds.uri
    dels = ds._with_fragment_id(spark, del_rowids.select(ROWID_COL))
    existing = {
        f.id: os.path.join(root, f.deletion_file)
        for f in ds.manifest.fragments
        if f.deletion_file
    }

    def write_group(pdf):
        import pandas as pd
        import pyarrow.parquet as pq

        fid = int(pdf["fragment_id"].iloc[0])
        out = pdf[[ROWID_COL]]
        if fid in existing:
            old = pq.read_table(existing[fid], columns=[ROWID_COL]).to_pandas()
            out = pd.concat([out, old])
        out = out.drop_duplicates().sort_values(ROWID_COL)
        rel = os.path.join("_deletions", f"frag-{fid}-{uuid.uuid4().hex}.parquet")
        abspath = os.path.join(root, rel)
        os.makedirs(os.path.dirname(abspath), exist_ok=True)
        out.to_parquet(abspath, index=False)
        return pd.DataFrame(
            {"fragment_id": [fid], "path": [rel], "num_deleted": [len(out)]}
        )

    meta = dels.groupBy("fragment_id").applyInPandas(write_group, _DEL_META_SCHEMA).collect()
    return {r.fragment_id: (r.path, r.num_deleted) for r in meta}


class StaleSnapshotError(Exception):
    """The base manifest changed in a way that invalidates this mutation's
    precomputed deletion files (e.g. a racing delete committed first, or a
    compaction replaced an affected fragment). Callers re-read the dataset
    and recompute — the reference's conflict-resolution retry
    (transaction.rs:1252+ Delete-vs-Delete → rewrite)."""


def _apply_deletes_and_appends(
    ds,
    spark: SparkSession,
    del_rowids: DataFrame | None,
    append_df: DataFrame | None,
    operation: str,
    commit: bool = True,
):
    """The single mutation primitive: deletion sidecars + appended fragments
    + one optimistic-concurrency commit (transaction.rs Operation::Update).

    ``commit=False`` (execute_uncommitted) stops after the data work and
    returns the change as a typed ``LanceOperation.Update`` — note the
    deferred path skips the per-fragment stale-snapshot recheck this
    function's commit closure performs, so the caller owns conflict
    awareness between now and its ``lance_spark.commit``."""
    from lance_spark.dataset import LanceDataset

    root = ds.uri
    del_map = _write_deletion_files(ds, spark, del_rowids) if del_rowids is not None else {}
    # snapshot of the deletion state our sidecars were derived from: if the
    # committed base diverges on any affected fragment, this mutation's
    # sidecars silently drop the other writer's deletions → must recompute
    del_snapshot = {f.id: f.deletion_file for f in ds.manifest.fragments}

    new_frags: list[mf.Fragment] = []
    if append_df is not None:
        from lance_spark.write import project_to_schema

        # project AND cast to the dataset schema: a type-changing update
        # expression (price * 1.1 on a bigint) would otherwise write
        # parquet files whose physical type diverges from the existing
        # fragments — every later unified scan then fails
        append_df = project_to_schema(append_df, ds.schema)
        # DataFile.columns hold PHYSICAL names: rewritten rows arrive with
        # LOGICAL names, so rename back through column_renames or every
        # renamed column detaches from the new fragments (r12 review —
        # same invariant fix as CompactionTask.execute)
        for physical, logical in ds.manifest.config.get("column_renames", {}).items():
            if logical in append_df.columns:
                append_df = append_df.withColumnRenamed(logical, physical)
        # reserve ids so a racing writer can't claim the same fragment range;
        # coalesce pins the write to the probed count (AQE may otherwise
        # re-plan the job with MORE partitions than were reserved, pushing
        # fragment ids into a range another writer may hold)
        n_parts = append_df.rdd.getNumPartitions()
        append_df = append_df.coalesce(max(n_parts, 1))
        base_fid = mf.reserve_fragment_ids(root, max(n_parts, 1))
        new_frags = write_fragments(
            append_df, root, base_fid,
            # blob-column datasets keep the out-of-line layout on rewritten
            # rows, or take_blobs silently misses them
            blob_columns=ds.manifest.blob_columns or None,
        )

    if not commit:
        from lance_spark.operation import LanceOperation

        updated, removed = [], []
        for frag in ds.manifest.fragments:
            if frag.id in del_map:
                path, ndel = del_map[frag.id]
                if ndel >= frag.physical_rows:
                    removed.append(frag.id)
                else:
                    updated.append(
                        mf.Fragment(
                            id=frag.id, files=frag.files,
                            physical_rows=frag.physical_rows,
                            deletion_file=path, num_deleted_rows=ndel,
                        )
                    )
        return {
            "transaction": LanceOperation.Update(
                removed_fragment_ids=removed,
                updated_fragments=updated,
                new_fragments=new_frags,
            ),
            "uri": root,
            "read_version": ds.version,
        }

    def build(base: mf.Manifest | None, version: int) -> mf.Manifest:
        assert base is not None
        live = {f.id: f for f in base.fragments}
        for fid in del_map:
            if fid not in live or live[fid].deletion_file != del_snapshot.get(fid):
                raise StaleSnapshotError(f"fragment {fid} changed under this mutation")
        fragments = []
        for frag in base.fragments:
            if frag.id in del_map:
                path, ndel = del_map[frag.id]
                if ndel >= frag.physical_rows:
                    continue  # fully deleted → drop fragment
                frag = mf.Fragment(
                    id=frag.id,
                    files=frag.files,
                    physical_rows=frag.physical_rows,
                    deletion_file=path,
                    num_deleted_rows=ndel,
                )
            fragments.append(frag)
        fragments.extend(new_frags)
        max_fid = max((f.id for f in fragments), default=base.max_fragment_id)
        # evolve, not a hand-rolled constructor: carry-forward fields added
        # later (e.g. multi-base registry) must never silently reset
        return mf.Manifest.evolve(
            base, version, operation=operation,
            fragments=fragments,
            max_fragment_id=max(max_fid, base.max_fragment_id),
        )

    mf.commit(root, build, operation=operation)
    return LanceDataset(root)


def _is_missing_file_error(exc: BaseException) -> bool:
    """True when a Spark plan failed because a file it planned against was
    GC'd mid-execution (superseded deletion sidecar / data file yanked by an
    aggressive cleanup). Such failures are snapshot-staleness, not data
    errors: re-planning from the fresh manifest reads only live files."""
    s = str(exc)
    return (
        "FileNotFoundException" in s
        or "PATH_NOT_FOUND" in s
        or "FILE_NOT_EXIST" in s
        or "does not exist" in s
    )


def _retrying(ds, fn, max_retries: int = 10, timeout_s: float | None = None):
    """Re-read + recompute loop around a mutation (dataset.py:197-222
    conflict_retries + retry_timeout): fn(fresh_ds) must build its plan from
    the snapshot it is handed, so each retry sees the other writer's
    committed deletions. Missing-file failures retry too — a concurrent GC
    removing a superseded sidecar is a race with THIS reader's plan, not a
    commit conflict, so it would otherwise surface as a hard
    AnalysisException."""
    import time

    from lance_spark.dataset import LanceDataset

    deadline = time.monotonic() + timeout_s if timeout_s is not None else None
    last: BaseException | None = None
    for _ in range(max_retries):
        try:
            return fn(ds)
        except StaleSnapshotError as exc:
            last = exc
            if deadline is not None and time.monotonic() > deadline:
                raise StaleSnapshotError(
                    f"mutation retry budget exhausted after {timeout_s}s"
                ) from None
            ds = LanceDataset(ds.uri)
        except Exception as exc:
            if not _is_missing_file_error(exc):
                raise
            last = exc
            if deadline is not None and time.monotonic() > deadline:
                raise
            ds = LanceDataset(ds.uri)
    raise StaleSnapshotError(
        f"mutation failed after {max_retries} recomputes"
    ) from last


def delete(ds, spark: SparkSession, predicate: str, fragments: list[int] | None = None):
    """Delete the rows matching ``predicate``; ``fragments`` bounds the
    scan to those fragments (``LanceFragment.delete``), so rows held
    elsewhere never match."""

    def run(d):
        hits = d.scanner(spark, filter=predicate, with_row_id=True, fragments=fragments)
        return _apply_deletes_and_appends(d, spark, hits.select(ROWID_COL), None, "delete")

    return _retrying(ds, run)


def update(ds, spark: SparkSession, values: dict[str, str], where: str | None = None):
    """SQL-expr assignments on matching rows (update.rs:58-252): matched rows
    are re-written as appended fragments; originals are masked."""

    unknown = sorted(set(values) - set(ds.columns))
    if unknown:
        # silently projecting the typo'd column away would commit a no-op
        # rewrite while the user's intended update never happens
        raise ValueError(f"update: unknown column(s) {unknown}; dataset has {ds.columns}")

    def run(d):
        matched = d.scanner(spark, filter=where, with_row_id=True) if where else d.to_df(
            spark, with_row_id=True
        )
        matched = matched.cache()
        try:
            updated = matched.withColumns({c: F.expr(e) for c, e in values.items()})
            return _apply_deletes_and_appends(
                d, spark, matched.select(ROWID_COL), updated.drop(ROWID_COL), "update"
            )
        finally:
            matched.unpersist()

    return _retrying(ds, run)


class MergeInsertBuilder:
    """dataset.py:90-401 builder API."""

    def __init__(self, ds, on: str | list[str]):
        self.ds = ds
        self.on = [on] if isinstance(on, str) else list(on)
        self._update_all = False
        self._update_condition: str | None = None
        self._fail_on_match = False
        self._insert_all = False
        self._delete_not_matched_by_source = False
        self._delete_condition: str | None = None
        self._max_retries = 10
        self._retry_timeout_s: float | None = None

    def conflict_retries(self, max_retries: int) -> "MergeInsertBuilder":
        """dataset.py:197-208 ``conflict_retries``: cap on recompute+retry
        rounds when concurrent writers change the affected fragments."""
        self._max_retries = max_retries
        return self

    def retry_timeout(self, timeout) -> "MergeInsertBuilder":
        """dataset.py:209-222 ``retry_timeout``: wall-clock budget across
        all retries (datetime.timedelta or seconds)."""
        self._retry_timeout_s = (
            timeout.total_seconds() if hasattr(timeout, "total_seconds") else float(timeout)
        )
        return self

    def use_index(self, use_index: bool = True) -> "MergeInsertBuilder":  # noqa: ARG002
        """dataset.py:223-243 ``use_index``: the reference toggles a
        btree-assisted join strategy. Accepted no-op here — Catalyst's join
        selection (broadcast/shuffle/sort-merge + AQE) owns that decision,
        and the target scan already prunes to key columns + _rowid."""
        return self

    def when_matched_update_all(self, condition: str | None = None) -> "MergeInsertBuilder":
        self._update_all = True
        self._update_condition = condition
        return self

    def when_matched_fail(self) -> "MergeInsertBuilder":
        """WhenMatched::Fail (merge_insert.rs:204-284): abort the merge if
        any source row matches an existing target row."""
        self._fail_on_match = True
        return self

    def when_not_matched_insert_all(self) -> "MergeInsertBuilder":
        self._insert_all = True
        return self

    def when_not_matched_by_source_delete(self, condition: str | None = None) -> "MergeInsertBuilder":
        self._delete_not_matched_by_source = True
        self._delete_condition = condition
        return self

    def execute(self, spark: SparkSession, source: DataFrame):
        """Join source↔target on key and route rows (merge_insert.rs:690).

        target side carries _rowid; actions:
          matched + update     → delete old rowid, append source row
          source-only + insert → append source row
          target-only + delete → delete rowid
        Catalyst picks broadcast vs shuffle join; at 100 TB the target scan
        prunes to join-key columns + _rowid (update appends re-read nothing).
        """
        return _retrying(
            self.ds,
            lambda d: self._execute_once(d, spark, source),
            max_retries=self._max_retries,
            timeout_s=self._retry_timeout_s,
        )

    def explain_plan(self, spark: SparkSession, source: DataFrame, verbose: bool = False) -> str:
        """Physical plan of the merge's routing join WITHOUT executing it
        (reference dataset.py:244-313 ``explain_plan``)."""
        from lance_spark.plans.explain import explain_plan

        joined = self._routing_plan(self.ds, spark, source)
        return explain_plan(joined, mode="extended" if verbose else "formatted")

    def analyze_plan(self, spark: SparkSession, source: DataFrame) -> str:
        """Executed-plan metrics for the routing join (reference
        dataset.py:314-401 ``analyze_plan``). Runs the join once."""
        from lance_spark.plans.explain import analyze_plan

        return analyze_plan(self._routing_plan(self.ds, spark, source))

    def execute_uncommitted(self, spark: SparkSession, source: DataFrame):
        """Run the merge's data work but do NOT commit (reference
        dataset.py:113-138 ``execute_uncommitted``): deletion sidecars and
        new fragments are written, and the change comes back as a typed
        ``LanceOperation.Update`` plus stats. Apply it later — possibly from
        another process — with ``lance_spark.commit(uri, operation)``."""
        return self._execute_once(self.ds, spark, source, commit=False)

    def _routing_plan(self, ds, spark: SparkSession, source: DataFrame) -> DataFrame:
        """The routing join shared by execute / explain_plan / analyze_plan
        (merge_insert.rs:690 plan shape). Sides alias as ``source`` /
        ``target`` so the reference's documented condition form
        (``target.x < source.x``) resolves directly. NULL join keys never
        match (standard MERGE semantics — eqNullSafe would pair NULL-keyed
        rows across sides with cartesian fan-out instead of routing them
        as inserts). full_outer only when a by-source clause actually
        consumes target-only rows; otherwise left_outer keeps a small
        source broadcastable."""
        cols = ds.columns
        target = ds.to_df(spark, with_row_id=True)
        src = source.select(*cols)
        how = "full_outer" if self._delete_not_matched_by_source else "left_outer"
        return src.withColumn("__src", F.lit(1)).alias("source").join(
            target.withColumn("__tgt", F.lit(1)).alias("target"),
            on=[F.col(f"source.{k}") == F.col(f"target.{k}") for k in self.on],
            how=how,
        )

    def _execute_once(self, ds, spark: SparkSession, source: DataFrame, commit: bool = True):
        cols = ds.columns
        joined = self._routing_plan(ds, spark, source)
        matched = F.col("source.__src").isNotNull() & F.col("target.__tgt").isNotNull()
        src_only = F.col("source.__src").isNotNull() & F.col("target.__tgt").isNull()
        tgt_only = F.col("source.__src").isNull() & F.col("target.__tgt").isNotNull()

        joined = joined.cache()
        # one try/finally from the cache to the commit: a condition that
        # fails to parse (F.expr raises) must not leave the join pinned in
        # executor memory for the session
        try:
            delete_ids_parts, append_parts = [], []

            if self._fail_on_match:
                n = joined.filter(matched).limit(1).count()
                if n:
                    raise ValueError(
                        "merge_insert: when_matched_fail and source rows matched target"
                    )
            if self._update_all:
                upd = joined.filter(matched)
                if self._update_condition:
                    upd = upd.filter(F.expr(self._update_condition))
                delete_ids_parts.append(
                    upd.select(F.col(f"target.{ROWID_COL}").alias(ROWID_COL))
                )
                append_parts.append(
                    upd.select(*[F.col(f"source.{c}").alias(c) for c in cols])
                )
            if self._insert_all:
                ins = joined.filter(src_only)
                append_parts.append(
                    ins.select(*[F.col(f"source.{c}").alias(c) for c in cols])
                )
            if self._delete_not_matched_by_source:
                dl = joined.filter(tgt_only)
                if self._delete_condition:
                    dl = dl.filter(F.expr(self._delete_condition))
                delete_ids_parts.append(
                    dl.select(F.col(f"target.{ROWID_COL}").alias(ROWID_COL))
                )

            del_df = None
            if delete_ids_parts:
                del_df = delete_ids_parts[0]
                for p in delete_ids_parts[1:]:
                    del_df = del_df.unionByName(p)
            app_df = None
            if append_parts:
                app_df = append_parts[0]
                for p in append_parts[1:]:
                    app_df = app_df.unionByName(p)

            return _apply_deletes_and_appends(ds, spark, del_df, app_df, "merge", commit=commit)
        finally:
            joined.unpersist()
