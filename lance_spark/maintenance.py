"""Maintenance: compact_files + cleanup_old_versions.

Reference semantics:
  - optimize.compact_files(target_rows_per_fragment): rewrite small or
    deletion-heavy fragments, materializing deletions; row ids stay stable so
    indexes remain valid (dataset.py:4754, rust/lance/src/dataset/optimize.rs:
    120-219 — Operation::Rewrite).
  - cleanup_old_versions(older_than): GC manifests + files unreferenced by
    any retained version (dataset.py:2180, rust/lance/src/dataset/cleanup.rs).

Spark-first HOW: because ``_rowid`` is a materialized column, compaction just
carries it through the rewrite — stable ids for free. After compaction a
fragment's rowids are no longer ``fragment_id<<32|offset``-aligned; the
commit records that in the manifest config, and from then on the dataset
(``LanceDataset._with_fragment_id`` / ``_fragments_holding``) answers which
fragment holds a rowid from the files themselves.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from lance_spark import manifest as mf
from lance_spark.write import ROWID_COL, write_fragments


from dataclasses import dataclass, field


@dataclass
class RewriteResult:
    """One task's output (optimize.rs RewriteResult): the victims it
    absorbed, the deletion state it materialized, the replacement
    fragments. JSON-serializable, so results can travel between workers
    and the committing driver."""

    victim_ids: list[int]
    del_snapshot: dict[int, str | None]
    new_fragments: list[mf.Fragment]

    def to_json(self) -> dict:
        return {
            "victim_ids": list(self.victim_ids),
            "del_snapshot": {str(k): v for k, v in self.del_snapshot.items()},
            "new_fragments": [f.to_json() for f in self.new_fragments],
        }

    @staticmethod
    def from_json(d: dict) -> "RewriteResult":
        return RewriteResult(
            victim_ids=list(d["victim_ids"]),
            del_snapshot={int(k): v for k, v in d["del_snapshot"].items()},
            new_fragments=[mf.Fragment.from_json(f) for f in d["new_fragments"]],
        )


@dataclass
class CompactionTask:
    """An independently executable bin of victim fragments
    (optimize.rs CompactionTask): rewrite these fragments' live rows into
    ~target-size replacements. Tasks share nothing, so a scheduler can run
    them on different drivers/jobs and commit once at the end."""

    uri: str
    version: int
    fragment_ids: list[int]
    target_rows_per_fragment: int

    def execute(self, spark: SparkSession) -> RewriteResult:
        from lance_spark.dataset import LanceDataset

        d = LanceDataset(self.uri, version=self.version)
        by_id = {f.id: f for f in d.manifest.fragments}
        victims = [by_id[i] for i in self.fragment_ids]
        del_snapshot = {f.id: f.deletion_file for f in victims}
        df = d._fragment_df(spark, victims, None)  # deletions applied; _rowid kept
        # _fragment_df emits LOGICAL names; DataFile.columns must hold
        # PHYSICAL names (the global column_renames map translates at
        # read) — writing logical names detached every renamed column
        # from its rewritten file (r12 review)
        for physical, logical in d.manifest.config.get("column_renames", {}).items():
            if logical in df.columns:
                df = df.withColumnRenamed(logical, physical)
        live_rows = sum(f.num_rows for f in victims)
        n_frags = max(1, -(-live_rows // self.target_rows_per_fragment))
        base_fid = mf.reserve_fragment_ids(self.uri, n_frags)
        new_frags = write_fragments(
            df.repartition(n_frags), self.uri, base_fid, preserve_rowids=True,
            # blob-column datasets must keep the out-of-line sidecar layout
            # across compaction, or take_blobs/take_blob_files break for
            # every compacted fragment (mutation.py's rewrite carries the
            # layout the same way)
            blob_columns=d.manifest.blob_columns or None,
        )
        return RewriteResult(
            victim_ids=list(self.fragment_ids),
            del_snapshot=del_snapshot,
            new_fragments=new_frags,
        )


@dataclass
class CompactionPlan:
    """optimize.rs CompactionPlan: the task list for one compaction round."""

    tasks: list[CompactionTask] = field(default_factory=list)

    @property
    def num_tasks(self) -> int:
        return len(self.tasks)


class Compaction:
    """Distributed compaction (optimize.rs Compaction; the reference's
    plan → execute-anywhere → commit workflow used by its Spark/Ray
    integrations). ``compact_files`` is plan+execute+commit in-process."""

    @staticmethod
    def plan(ds, target_rows_per_fragment: int = 1024 * 1024,
             materialize_deletions_threshold: float = 0.10) -> CompactionPlan:
        """Bin small/deletion-heavy fragments greedily by cumulative live
        rows; each bin is one independent task."""
        victims = [
            f
            for f in ds.manifest.fragments
            if f.num_rows < target_rows_per_fragment // 2
            or (
                f.physical_rows > 0
                and f.num_deleted_rows / f.physical_rows > materialize_deletions_threshold
            )
        ]
        if len(victims) < 2 and not any(f.num_deleted_rows for f in victims):
            return CompactionPlan([])
        tasks, bin_ids, bin_rows = [], [], 0
        for f in victims:
            bin_ids.append(f.id)
            bin_rows += f.num_rows
            if bin_rows >= target_rows_per_fragment:
                tasks.append(CompactionTask(ds.uri, ds.version, bin_ids, target_rows_per_fragment))
                bin_ids, bin_rows = [], 0
        if bin_ids:
            tasks.append(CompactionTask(ds.uri, ds.version, bin_ids, target_rows_per_fragment))
        return CompactionPlan(tasks)

    @staticmethod
    def commit(ds, rewrites: list[RewriteResult]):
        """Apply completed rewrites in ONE manifest commit, verifying every
        victim is still present with the exact deletion_file its rewrite
        read (transaction.rs Rewrite-vs-* conflicts) — a delete landing
        between scan and commit would otherwise be resurrected."""
        from lance_spark.dataset import LanceDataset
        from lance_spark.mutation import StaleSnapshotError

        if not rewrites:
            return LanceDataset(ds.uri)
        all_victims = {v for r in rewrites for v in r.victim_ids}
        all_snapshot = {k: v for r in rewrites for k, v in r.del_snapshot.items()}
        new_frags = [f for r in rewrites for f in r.new_fragments]

        def build(base: mf.Manifest | None, version: int) -> mf.Manifest:
            assert base is not None
            live = {f.id: f for f in base.fragments}
            for vid in all_victims:
                if vid not in live or live[vid].deletion_file != all_snapshot[vid]:
                    raise StaleSnapshotError(f"fragment {vid} changed under compaction")
            fragments = [f for f in base.fragments if f.id not in all_victims] + new_frags
            cfg = dict(base.config)
            cfg["rowid_address_style"] = False
            # Remap index coverage (Operation::Rewrite remap, optimize.rs:982):
            # rowids are stable so rowid-keyed entries stay valid; a task's
            # new fragments are covered iff every victim that task absorbed
            # was covered (rows from an unindexed victim would otherwise be
            # wrongly skipped by fast_search). Fragment-keyed entries name
            # the victims, so their new fragments stay uncovered until
            # optimize_indices rebuilds them.
            from lance_spark.indexes.scalar import FRAGMENT_KEYED

            indices = []
            for i in base.indices:
                cov = set(i.fragment_ids)
                fids = cov - all_victims
                for r in rewrites:
                    if set(r.victim_ids) <= cov and i.index_type not in FRAGMENT_KEYED:
                        fids |= {f.id for f in r.new_fragments}
                indices.append(
                    mf.IndexMeta(
                        name=i.name, index_type=i.index_type, column=i.column,
                        path=i.path, fragment_ids=sorted(fids), params=i.params,
                    )
                )
            return mf.Manifest.evolve(
                base, version, operation="rewrite",
                fragments=fragments,
                max_fragment_id=max(max(f.id for f in fragments), base.max_fragment_id),
                indices=indices, config=cfg,
            )

        mf.commit(ds.uri, build, operation="rewrite")
        return LanceDataset(ds.uri)

    @staticmethod
    def execute(ds, spark: SparkSession, target_rows_per_fragment: int = 1024 * 1024):
        plan = Compaction.plan(ds, target_rows_per_fragment)
        if not plan.tasks:
            return ds
        rewrites = [t.execute(spark) for t in plan.tasks]
        return Compaction.commit(ds, rewrites)


def compact_files(ds, spark: SparkSession, target_rows_per_fragment: int = 1024 * 1024):
    """Rewrite fragments that are small (<1/2 target) or deletion-heavy
    (>10% deleted) into full-size fragments (optimize.rs CompactionOptions).

    Concurrency (transaction.rs Rewrite-vs-* conflicts): fragment ids are
    RESERVED before writing so a concurrent append can never claim the same
    range, and the commit verifies each victim is still present with the
    exact deletion_file the rewrite read — a delete landing between scan and
    commit would otherwise be resurrected by the rewritten rows. On such a
    conflict the whole compaction recomputes from the fresh snapshot."""
    from lance_spark.mutation import _retrying

    def run(d):
        return Compaction.execute(d, spark, target_rows_per_fragment)

    return _retrying(ds, run)


#: delta segments per IVF index before optimize auto-merges them into one
#: (bounds the query-time segment fan-out under continuous delta optimizes)
_AUTO_MERGE_SEGMENTS = 4


def optimize_indices(
    ds,
    spark: SparkSession,
    num_indices_to_merge: int | None = None,
    index_names: list[str] | None = None,
    retrain: bool = False,
):
    """``optimize.optimize_indices`` (dataset.py:4831-4860): bring every
    stale index back to full fragment coverage after appends.

    Default (``retrain=False``) follows the reference's contract — "does
    not retrain the index, it only assigns the new data to existing
    partitions": IVF* indexes delta-encode ONLY the new fragments' vectors
    with the frozen training artifacts (indexes/vector.extend_ivf);
    INVERTED indexes write a postings delta segment for the new fragments
    (indexes/inverted.extend_inverted). Cost scales with the APPEND, not
    the corpus — the 100 TB property: indexing 0.1% new data reads 0.1%
    of the data. The documented trade is recall drift when new data shifts
    distribution; ``retrain=True`` (the reference's deprecated-but-present
    knob) rebuilds from scratch, re-resolving √n-defaulted partition
    counts against the CURRENT row count (explicit counts preserved).

    ``num_indices_to_merge`` bounds IVF segment fan-out: when the segment
    count would exceed it, all segments merge into one (codes rewrite, no
    retrain). ``None`` auto-merges past 4 segments; ``0`` never merges
    (the reference's "always create a delta index"). ``index_names``
    restricts which indexes are touched.

    Scalar indexes (BTREE/BITMAP/...) always rebuild: their layouts are
    value-sorted/global structures where the rebuild IS the merge, and
    they are orders cheaper than vector/FTS builds."""
    from lance_spark import manifest as mf
    from lance_spark.dataset import LanceDataset

    current = {f.id for f in ds.manifest.fragments}
    out = ds
    for meta in list(ds.manifest.indices):
        if index_names is not None and meta.name not in index_names:
            continue
        if set(meta.fragment_ids) >= current:
            continue  # already covers everything
        if meta.index_type.startswith("IVF") and not retrain:
            import os

            from lance_spark.indexes.vector import (
                IvfIndex,
                extend_ivf,
                merge_ivf_segments,
            )

            tail = [f.id for f in out.manifest.fragments if f.id not in set(meta.fragment_ids)]
            df = out.scanner(spark, columns=[meta.column], with_row_id=True, fragments=tail)
            if meta.params.get("multivector", False):
                # multivector index: delta rows flatten exactly like the
                # build did (one codes row per vector, id = doc rowid)
                from pyspark.sql import functions as F
                from lance_spark.write import ROWID_COL

                df = df.select(ROWID_COL, F.explode(meta.column).alias(meta.column))
            index = IvfIndex(os.path.join(out.uri, meta.path))
            # post-compaction the tail may hold rowids already encoded in a
            # committed segment — dedup them or both copies become
            # permanently visible (ADVICE r9 #1)
            dedup = not out._rowid_addressable()
            index = extend_ivf(index, spark, df, fragments=tail, dedup_existing=dedup)
            out = _commit_index_coverage(out, meta.name)
            # merge only COMMITTED segments: a torn merge is then a pure
            # rewrite of identical content, never a coverage change
            budget = _AUTO_MERGE_SEGMENTS if num_indices_to_merge is None else num_indices_to_merge
            if budget and len(index.segments) > budget:
                merge_ivf_segments(index, spark)
        elif meta.index_type == "INVERTED" and not retrain:
            from lance_spark.indexes.inverted import (
                extend_inverted,
                merge_inverted_segments,
            )

            segments = extend_inverted(out, spark, meta)
            out = _commit_index_coverage(out, meta.name, params_update={"segments": segments})
            # merge only COMMITTED segments (same rule as the IVF branch):
            # a torn merge is a pure rewrite of identical content plus a
            # params flip that never happened — the re-run overwrites it
            budget = _AUTO_MERGE_SEGMENTS if num_indices_to_merge is None else num_indices_to_merge
            if budget and len(segments) > budget:
                out = merge_inverted_segments(out, spark, meta.name)
        elif meta.index_type.startswith("IVF"):
            from lance_spark.indexes.vector import create_dataset_index

            nsv = meta.params.get("num_sub_vectors")
            # √n-defaulted indexes re-resolve the partition count against the
            # CURRENT row count — an index created at 1M rows (√n≈1000) that
            # grew to 100M must not rebuild at 1000 partitions, or the
            # nprobes prune ratio erodes 10×. Only an explicitly-chosen
            # count is preserved; legacy indexes without the flag
            # re-resolve too.
            np_param = meta.params.get("num_partitions")
            explicit = meta.params.get("num_partitions_explicit", False)
            out = create_dataset_index(
                out, spark, meta.column, meta.name, meta.index_type,
                num_partitions=int(np_param) if explicit and np_param is not None else None,
                # indexes created before the resolved-params fix may have
                # persisted None; let build_ivf re-resolve in that case
                num_sub_vectors=int(nsv) if nsv is not None else None,
                metric=meta.params.get("metric", "cosine"),
                # hamming bit-encoding is resolved once at create time; a
                # rebuild re-inferring from a fresh sample could silently
                # flip a sparse packed dataset to unpacked
                packed=meta.params.get("packed"),
            )
        elif meta.index_type == "INVERTED":
            from lance_spark.indexes.inverted import create_inverted_index

            out = create_inverted_index(
                out, spark, meta.column, meta.name,
                tokenizer=meta.params.get("tokenizer", "simple"),
            )
        else:
            from lance_spark.indexes.scalar import create_scalar_index

            out = create_scalar_index(out, spark, meta.column, meta.index_type, meta.name, meta.params)
    return LanceDataset(ds.uri)


def _commit_index_coverage(ds, name: str, params_update: dict | None = None):
    """Mark index ``name`` as covering every current fragment (+ optional
    params changes) in ONE manifest commit — the atomic visibility point
    of a delta optimize."""
    from lance_spark import manifest as mf
    from lance_spark.dataset import LanceDataset

    covered = [f.id for f in ds.manifest.fragments]

    def build(base, version):
        idx = []
        for i in base.indices:
            if i.name == name:
                i = mf.IndexMeta(
                    name=i.name, index_type=i.index_type, column=i.column,
                    path=i.path, fragment_ids=covered,
                    params={**i.params, **(params_update or {})},
                )
            idx.append(i)
        return mf.Manifest.evolve(base, version, operation="create_index", indices=idx)

    mf.commit(ds.uri, build, operation="create_index")
    return LanceDataset(ds.uri)



#: Grace period before an *orphan* file (referenced by NO manifest, ever) is
#: GC'd. Orphans are indistinguishable from a concurrent writer's in-flight
#: files — every writer creates files BEFORE committing — so deleting young
#: orphans races active transactions (the reference's cleanup.rs keeps any
#: unreferenced file newer than the cutoff for exactly this reason).
UNVERIFIED_GRACE_SECONDS = 7 * 24 * 3600.0

#: the reference's cleanup default: versions younger than two weeks are
#: kept (python/python/lance/dataset.py:2180, cleanup.rs DEFAULT_CLEANUP)
DEFAULT_CLEANUP_SECONDS = 14 * 24 * 3600.0

#: Grace period between a data/deletion file becoming unreferenced and its
#: actual deletion: a reader that planned its scan against the manifest
#: that was latest moments ago may still be mid-execution when GC runs
#: (observed as FileNotFoundException on a superseded deletion sidecar under
#: an aggressive older_than=0 auto-GC). Files are RETIRED into a ledger
#: first and only unlinked once they have been retired this long — the same
#: two-phase reclaim the IVF segment merge uses (indexes/vector.py
#: _RETIRE_GRACE_SECONDS). ``delete_unverified=True`` (the caller's
#: assertion that nothing is concurrently reading or writing) bypasses it.
READER_GRACE_SECONDS = 15 * 60.0

_TRASH_LEDGER = "_trash.json"


def _load_trash(root: str) -> dict[str, float]:
    import json

    try:
        with open(os.path.join(root, _TRASH_LEDGER)) as fh:
            return {str(k): float(v) for k, v in json.load(fh).items()}
    except (OSError, ValueError):
        return {}


def _save_trash(root: str, ledger: dict[str, float]) -> None:
    import json

    path = os.path.join(root, _TRASH_LEDGER)
    if not ledger:
        try:
            os.unlink(path)
        except OSError:
            pass
        return
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(ledger, fh)
    os.replace(tmp, path)


def cleanup_old_versions(
    ds,
    older_than_seconds: float | None = None,
    keep_tagged: bool = True,
    delete_unverified: bool = False,
    retain_versions: int | None = None,
    older_than=None,
) -> int:
    """Delete manifests older than the cutoff (never the latest) plus files
    referenced only by those dropped manifests. Files referenced by *no*
    manifest at all (aborted or in-flight writes) are only removed once older
    than ``UNVERIFIED_GRACE_SECONDS``, unless ``delete_unverified=True`` —
    the caller's assertion that no write is concurrently in progress
    (reference: ``dataset.py:2180`` cleanup_old_versions(delete_unverified),
    ``rust/lance/src/dataset/cleanup.rs`` maybe-in-progress guard).

    The cutoff is ``older_than`` (a ``datetime.timedelta``, the reference's
    parameter) or ``older_than_seconds`` (this engine's float alias); when
    neither is given it defaults to TWO WEEKS like the reference — a bare
    ``cleanup_old_versions()`` must never strip history that a concurrent
    reader pinned minutes ago. Returns number of files removed. Driver-side
    O(metadata + file listing)."""
    import time

    if older_than is not None:
        from lance_spark.util import td_to_micros

        older_than_seconds = td_to_micros(older_than) / 1e6
    elif older_than_seconds is None:
        older_than_seconds = DEFAULT_CLEANUP_SECONDS

    root = ds.uri
    now = time.time()
    versions = mf.list_versions(root)
    latest = versions[-1]
    # a branch head is as load-bearing as a tag: dropping its manifest would
    # break every checkout_branch after the GC
    tagged = (
        set(mf.list_tags(root).values()) | set(mf.list_refs(root, "branches").values())
        if keep_tagged
        else set()
    )

    # lance.auto_cleanup.retain_versions semantics (cleanup.rs:594): the
    # newest N versions survive regardless of age
    retained = set(versions[-retain_versions:]) if retain_versions else set()

    keep, drop = [], []
    for v in versions:
        m = mf.read_manifest(root, v)
        if (v == latest or v in tagged or v in retained
                or (now - m.timestamp) < older_than_seconds):
            keep.append(m)
        else:
            drop.append(m)

    def refs(manifests) -> set[str]:
        out: set[str] = set()
        for m in manifests:
            for frag in m.fragments:
                for f in frag.files:
                    out.add(f.path)
                if frag.deletion_file:
                    out.add(frag.deletion_file)
            for idx in m.indices:
                out.add(idx.path)
        return out

    referenced = refs(keep)
    dropped_refs = refs(drop) - referenced  # committed once, now unreachable

    def orphan_deletable(path: str) -> bool:
        if delete_unverified:
            return True
        try:
            return (now - os.path.getmtime(path)) >= UNVERIFIED_GRACE_SECONDS
        except OSError:
            return False

    removed = 0
    for m in drop:
        os.unlink(mf.manifest_path(root, m.version))
        removed += 1
    if drop:
        # deleted version files may be re-claimed by a future writer after a
        # drop/recreate cycle — stale cache entries must not survive that
        mf.invalidate_root(root)
    ledger = _load_trash(root)
    # a restore/branch checkout can re-commit old fragments: anything
    # referenced again is un-retired
    for rel in [r for r in ledger if r in referenced]:
        del ledger[rel]

    def reclaim(rel: str, abs_path: str) -> None:
        """Two-phase delete: retire into the ledger now, unlink only once
        retired longer than READER_GRACE_SECONDS (in-flight readers of the
        just-superseded version finish against intact files)."""
        nonlocal removed
        retired_at = ledger.get(rel)
        if not delete_unverified and retired_at is None:
            ledger[rel] = now
            return
        if delete_unverified or (now - retired_at) >= READER_GRACE_SECONDS:
            try:
                os.unlink(abs_path)
                removed += 1
            except OSError:
                pass
            ledger.pop(rel, None)

    for sub in ("data", "_deletions"):
        d = os.path.join(root, sub)
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            rel = os.path.join(sub, name)
            if rel in referenced:
                continue
            # ledger membership IS the dropped-at-an-earlier-cleanup proof:
            # the manifests that referenced the file are gone by now, so
            # dropped_refs can't re-derive it
            if (
                rel in dropped_refs
                or rel in ledger
                or orphan_deletable(os.path.join(root, rel))
            ):
                reclaim(rel, os.path.join(root, rel))

    def reclaim_dir(rel: str, abs_path: str) -> None:
        """Directory twin of ``reclaim``: index build dirs get the SAME
        retire-then-delete grace as data/deletion files — an immediate
        rmtree raced in-flight readers of the just-superseded version
        (the exact race READER_GRACE_SECONDS fixed for files; r12)."""
        nonlocal removed
        import shutil

        retired_at = ledger.get(rel)
        if not delete_unverified and retired_at is None:
            ledger[rel] = now
            return
        if delete_unverified or (now - retired_at) >= READER_GRACE_SECONDS:
            shutil.rmtree(abs_path, ignore_errors=True)
            removed += 1
            ledger.pop(rel, None)

    # index directories. Two layouts: flat (_indices/<name> IS the index —
    # IVF/INVERTED/legacy scalar) and versioned builds
    # (_indices/<name>/b<hex> per scalar rebuild). A flat dir that is
    # directly referenced is owned wholesale by its index (delta segments
    # etc. live inside — never touch children). A prefix-referenced dir
    # keeps only its referenced builds; superseded build subdirs reclaim
    # once dropped or grace-expired.
    idx_root = os.path.join(root, "_indices")
    if os.path.isdir(idx_root):
        import shutil

        for name in os.listdir(idx_root):
            rel = os.path.join("_indices", name)
            if rel in referenced:
                continue  # flat layout, live — children are index internals
            pfx = rel + os.sep
            if any(p.startswith(pfx) for p in referenced):
                # versioned layout, live: reclaim superseded build subdirs
                for child in os.listdir(os.path.join(idx_root, name)):
                    crel = os.path.join(rel, child)
                    if crel in referenced:
                        continue
                    if crel in dropped_refs or crel in ledger or orphan_deletable(
                        os.path.join(idx_root, name, child)
                    ):
                        reclaim_dir(crel, os.path.join(root, crel))
                continue
            if rel in dropped_refs or rel in ledger or orphan_deletable(
                os.path.join(idx_root, name)
            ):
                reclaim_dir(rel, os.path.join(idx_root, name))
            elif any(p.startswith(pfx) for p in dropped_refs):
                # every RECORDED build of this index was dropped — but a
                # concurrent create_scalar_index may have a fresh
                # (pre-commit) build dir here, so reclaim per child with
                # the same orphan guard as the live-prefix branch, never
                # the directory wholesale
                children = os.listdir(os.path.join(idx_root, name))
                for child in children:
                    crel = os.path.join(rel, child)
                    if crel in dropped_refs or crel in ledger or orphan_deletable(
                        os.path.join(idx_root, name, child)
                    ):
                        reclaim_dir(crel, os.path.join(root, crel))
                if not os.listdir(os.path.join(idx_root, name)):
                    shutil.rmtree(os.path.join(idx_root, name), ignore_errors=True)
    # persist the retire ledger AFTER the index section too, so index-dir
    # retirements survive to the next cleanup pass
    _save_trash(root, ledger)
    return removed


class CompactionOptions(dict):
    """Options dict for compaction (reference optimize.py:16 TypedDict):
    ``target_rows_per_fragment`` (default 1024*1024), plus the reference's
    ``max_rows_per_group`` / ``max_bytes_per_file`` / ``materialize_deletions``
    knobs, accepted for call-site compatibility (row-group sizing belongs
    to the parquet writer; deletions always materialize on rewrite here)."""

    def __init__(
        self,
        target_rows_per_fragment: int = 1024 * 1024,
        max_rows_per_group: int | None = None,
        max_bytes_per_file: int | None = None,
        materialize_deletions: bool = True,
        materialize_deletions_threshold: float = 0.1,
        num_threads: int | None = None,
        batch_size: int | None = None,
        defer_index_remap: bool = False,
    ):
        super().__init__(
            target_rows_per_fragment=target_rows_per_fragment,
            max_rows_per_group=max_rows_per_group,
            max_bytes_per_file=max_bytes_per_file,
            materialize_deletions=materialize_deletions,
            materialize_deletions_threshold=materialize_deletions_threshold,
            num_threads=num_threads,
            batch_size=batch_size,
            defer_index_remap=defer_index_remap,
        )
