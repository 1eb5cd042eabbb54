"""Typed commit operations — reference ``LanceOperation``
(python/python/lance/dataset.py:3710-4100; rust transaction.rs Operation).

The reference lets external writers describe a change as a typed operation
object and commit it against a read version. Here each operation maps to a
pure function over the base manifest; ``commit`` runs it through the
optimistic-concurrency loop (manifest.commit) so racing writers retry on a
fresh base exactly like every built-in mutation.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from lance_spark import manifest as mf


class LanceOperation:
    """Namespace matching the reference's call sites
    (``lance.LanceOperation.Append(frags)`` …)."""

    @dataclass
    class BaseOperation:
        pass

    @dataclass
    class Append(BaseOperation):
        """New fragments added to the dataset (dataset.py:3784-3822)."""

        fragments: list

    @dataclass
    class Overwrite(BaseOperation):
        """Replace all data with a new schema + fragment set
        (dataset.py:3732-3782). ``new_schema`` is a Spark StructType JSON
        dict, a StructType, or a pyarrow Schema."""

        new_schema: object
        fragments: list

    @dataclass
    class Delete(BaseOperation):
        """Rows deleted: rewritten fragments + dropped fragment ids +
        the predicate that caused it (dataset.py:3830-3896)."""

        updated_fragments: list
        deleted_fragment_ids: list
        predicate: str

    @dataclass
    class Update(BaseOperation):
        """Rows updated: removed/updated/new fragment sets
        (dataset.py:3898-3933)."""

        removed_fragment_ids: list = field(default_factory=list)
        updated_fragments: list = field(default_factory=list)
        new_fragments: list = field(default_factory=list)

    @dataclass
    class Merge(BaseOperation):
        """Columns merged in: full fragment set + new schema
        (dataset.py:3935-4002)."""

        fragments: list
        schema: object

    @dataclass
    class Restore(BaseOperation):
        """Restore an old version (dataset.py:4004-4009)."""

        version: int

    @dataclass
    class RewriteGroup:
        """One compaction group (dataset.py:4012-4019)."""

        old_fragments: list
        new_fragments: list

    @dataclass
    class Rewrite(BaseOperation):
        """Compaction: groups of old fragments rewritten to new ones
        (dataset.py:4024-4062). Row counts must be preserved."""

        groups: list

    @dataclass
    class Project(BaseOperation):
        """Schema projection/reorder — metadata only (dataset.py:4064+)."""

        schema: object

    @dataclass
    class UpdateMap:
        """Updates to one metadata map (reference dataset.py:4123-4137):
        ``None`` values delete keys; ``replace=True`` swaps the whole map."""

        updates: dict
        replace: bool = False

    @dataclass
    class UpdateConfig(BaseOperation):
        """Metadata-only commit updating config / table metadata / schema
        metadata / per-field metadata (reference dataset.py:4140-4165;
        transaction.rs:260-265). ``field_metadata_updates`` is keyed by
        field name (or positional field index) since names are the stable
        spark-side identifier."""

        config_updates: "LanceOperation.UpdateMap | None" = None
        table_metadata_updates: "LanceOperation.UpdateMap | None" = None
        schema_metadata_updates: "LanceOperation.UpdateMap | None" = None
        field_metadata_updates: dict | None = None

    @dataclass
    class Clone(BaseOperation):
        """Clone a dataset from ``ref_path`` (transaction.rs:273-280).
        Shallow = the new manifest references the source's data/deletion/
        index files in place by absolute path (O(metadata)); deep = files
        are copied under the destination root (driver-side IO — at cluster
        scale run a distributed copy first, then commit shallow against
        the copy)."""

        is_shallow: bool = True
        ref_name: str | None = None  # tag/branch of the source to clone
        ref_version: int | None = None
        ref_path: str = ""
        branch_name: str | None = None  # branch ref created at the clone

    @dataclass
    class UpdateBases(BaseOperation):
        """Register additional storage roots (transaction.rs UpdateBases —
        add-only, like the reference). ``new_bases``: DatasetBasePath
        objects or their json dicts."""

        new_bases: list

    @dataclass
    class DataReplacementGroup:
        """One fragment's data-file swap (reference dataset.py:4067-4073)."""

        fragment_id: int
        new_file: object  # manifest.DataFile (or its to_json dict)

    @dataclass
    class DataReplacement(BaseOperation):
        """Replace existing datafiles in place (reference dataset.py:
        4076-4081; transaction.rs DataReplacement): each group swaps the
        fragment's column-group file that covers the same columns. Row
        counts are unchanged — this is the file-level seam backfills and
        encodings migrations commit through."""

        replacements: list

    @dataclass
    class CreateIndex(BaseOperation):
        """Register/replace index metadata without a build pass (reference
        test_commit_index.py flow: copy index files, then commit a
        CreateIndex op). ``new_indices`` are ``manifest.IndexMeta`` (or
        equivalent dicts); ``removed_indices`` are index names (or
        IndexMeta) to drop."""

        new_indices: list
        removed_indices: list = field(default_factory=list)


@dataclass
class Transaction:
    """A described-but-uncommitted change (reference dataset.py:3646):
    the operation plus the version it was computed against, carried as a
    value so external writers can hand it to ``commit`` / ``commit_batch``."""

    read_version: int
    operation: "LanceOperation.BaseOperation"
    uuid: str = ""
    transaction_properties: dict | None = field(default_factory=dict)

    def __post_init__(self):
        if not self.uuid:
            import uuid as _uuid

            self.uuid = str(_uuid.uuid4())


def _schema_json(schema) -> dict:
    from pyspark.sql.types import StructType

    from lance_spark.types import LanceSchema

    if isinstance(schema, dict):
        return schema
    if isinstance(schema, LanceSchema):
        return schema.to_json()
    if isinstance(schema, StructType):
        return schema.jsonValue()
    # pyarrow schema
    from lance_spark.types import schema_to_json

    return schema_to_json(schema)


def _field_entry(schema_json: dict, path) -> dict:
    """Field entry by dotted name path, or by positional index for int keys
    (mirrors LanceDataset._field_entry)."""
    fields = schema_json["fields"]
    if isinstance(path, int):
        if not 0 <= path < len(fields):
            raise KeyError(f"field index out of range: {path}")
        return fields[path]
    parts = str(path).split(".")
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


def _apply(op, base: mf.Manifest | None, version: int) -> mf.Manifest:
    O = LanceOperation  # noqa: E741
    if base is None and not isinstance(op, O.Overwrite):
        # ValueError, not assert: python -O strips asserts and the failure
        # would surface as an AttributeError deep inside the builder
        raise ValueError(
            f"{type(op).__name__} requires an existing dataset (no base manifest)"
        )
    if isinstance(op, O.Append):
        frags = base.fragments + list(op.fragments)
        return mf.Manifest.evolve(
            base, version, fragments=frags,
            max_fragment_id=max([f.id for f in frags] + [base.max_fragment_id]),
        )
    if isinstance(op, O.Overwrite):
        frags = list(op.fragments)
        schema = _schema_json(op.new_schema)
        if base is None:
            return mf.Manifest(
                version=version, schema_json=schema, fragments=frags,
                max_fragment_id=max([f.id for f in frags] + [-1]),
                operation="overwrite",
            )
        # mirror write.py's overwrite: indices, config and blob_columns RESET
        # (carrying forward column_renames keyed to the REPLACED dataset's
        # physical names would detach the new files' columns on read —
        # scans translate logical->physical through that map); bases carry
        # forward, same as write.py's live-registry merge
        return mf.Manifest.evolve(
            base, version, schema_json=schema, fragments=frags, indices=[],
            config={}, blob_columns=[],
            max_fragment_id=max([f.id for f in frags] + [base.max_fragment_id]),
        )
    if isinstance(op, O.Delete):
        updated = {f.id: f for f in op.updated_fragments}
        dropped = set(op.deleted_fragment_ids)
        frags = [
            updated.get(f.id, f) for f in base.fragments if f.id not in dropped
        ]
        return mf.Manifest.evolve(base, version, fragments=frags)
    if isinstance(op, O.Update):
        updated = {f.id: f for f in op.updated_fragments}
        dropped = set(op.removed_fragment_ids)
        frags = [updated.get(f.id, f) for f in base.fragments if f.id not in dropped]
        frags += list(op.new_fragments)
        return mf.Manifest.evolve(
            base, version, fragments=frags,
            max_fragment_id=max([f.id for f in frags] + [base.max_fragment_id]),
        )
    if isinstance(op, O.Merge):
        return mf.Manifest.evolve(
            base, version, fragments=list(op.fragments),
            schema_json=_schema_json(op.schema),
        )
    # Restore is handled in commit() — it resolves the target manifest from
    # the dataset root, which _apply doesn't know
    if isinstance(op, O.Rewrite):
        old_ids = {f.id for g in op.groups for f in g.old_fragments}
        new_frags = [f for g in op.groups for f in g.new_fragments]
        old_rows = sum(f.num_rows for f in base.fragments if f.id in old_ids)
        new_rows = sum(f.num_rows for f in new_frags)
        if old_rows != new_rows:
            raise ValueError(
                f"Rewrite must preserve row counts: {old_rows} -> {new_rows}"
            )
        frags = [f for f in base.fragments if f.id not in old_ids] + new_frags
        # rewritten fragments fall out of index coverage; the unindexed-tail
        # union keeps queries correct until optimize_indices re-covers them
        indices = [
            mf.IndexMeta(
                name=i.name, index_type=i.index_type, column=i.column, path=i.path,
                fragment_ids=[fid for fid in i.fragment_ids if fid not in old_ids],
                params=i.params,
            )
            for i in base.indices
        ]
        return mf.Manifest.evolve(
            base, version, fragments=frags, indices=indices,
            max_fragment_id=max([f.id for f in frags] + [base.max_fragment_id]),
        )
    if isinstance(op, O.Project):
        return mf.Manifest.evolve(base, version, schema_json=_schema_json(op.schema))
    if isinstance(op, O.UpdateConfig):

        def merged(cur: dict, um) -> dict:
            out = {} if (um is not None and um.replace) else dict(cur)
            if um is not None:
                out.update(um.updates)
            return {k: v for k, v in out.items() if v is not None}

        from lance_spark.dataset import _PROTECTED_CONFIG_KEYS

        config = dict(base.config)
        if op.config_updates is not None:
            # flat config keys only — the metadata namespaces have their own
            # UpdateMaps, and the engine-maintained format flags
            # (the rowid regime, column_renames, ...) must survive a
            # config replace (update_config method semantics, dataset.py)
            flat = {
                k: v for k, v in config.items()
                if k not in _PROTECTED_CONFIG_KEYS
            }
            keep = {
                k: v for k, v in config.items()
                if k in _PROTECTED_CONFIG_KEYS
            }
            config = {**keep, **merged(flat, op.config_updates)}
        for ns, um in (
            ("schema_metadata", op.schema_metadata_updates),
            ("table_metadata", op.table_metadata_updates),
        ):
            if um is not None:
                config[ns] = merged(config.get(ns, {}), um)
        schema = base.schema_json
        if op.field_metadata_updates:
            import copy

            schema = copy.deepcopy(schema)
            for key, um in op.field_metadata_updates.items():
                entry = _field_entry(schema, key)
                entry["metadata"] = merged(entry.get("metadata", {}), um)
        return mf.Manifest.evolve(
            base, version, config=config, schema_json=schema,
        )
    if isinstance(op, O.UpdateBases):
        adds = [
            (b if isinstance(b, mf.DatasetBasePath) else mf.DatasetBasePath.from_json(b)).to_json()
            for b in op.new_bases
        ]
        names = [x["name"] for x in base.bases] + [x["name"] for x in adds]
        dupes = {n for n in names if names.count(n) > 1}
        if dupes:
            raise ValueError(f"duplicate base name(s): {sorted(dupes)}")
        return mf.Manifest.evolve(base, version, bases=base.bases + adds)
    if isinstance(op, O.DataReplacement):
        by_id = {f.id: f for f in base.fragments}
        swaps: dict[int, mf.DataFile] = {}
        for g in op.replacements:
            nf = g.new_file
            if not isinstance(nf, mf.DataFile):
                nf = mf.DataFile.from_json(nf)
            if g.fragment_id not in by_id:
                raise ValueError(f"DataReplacement: no fragment {g.fragment_id}")
            swaps[g.fragment_id] = nf
        frags = []
        for f in base.fragments:
            nf = swaps.get(f.id)
            if nf is None:
                frags.append(f)
                continue
            # swap the column-group file covering the same columns
            target = next(
                (df for df in f.files if set(df.columns) == set(nf.columns)), None
            )
            if target is None:
                raise ValueError(
                    f"DataReplacement: fragment {f.id} has no data file with "
                    f"columns {sorted(nf.columns)}"
                )
            frags.append(
                mf.Fragment(
                    id=f.id,
                    files=[nf if df is target else df for df in f.files],
                    physical_rows=f.physical_rows,
                    deletion_file=f.deletion_file,
                    num_deleted_rows=f.num_deleted_rows,
                )
            )
        # replaced files fall out of index coverage for indexes on the
        # swapped columns (their values may have changed)
        swapped_cols = {c for nf in swaps.values() for c in nf.columns}
        indices = [
            i if i.column not in swapped_cols else mf.IndexMeta(
                name=i.name, index_type=i.index_type, column=i.column, path=i.path,
                fragment_ids=[fid for fid in i.fragment_ids if fid not in swaps],
                params=i.params,
            )
            for i in base.indices
        ]
        return mf.Manifest.evolve(base, version, fragments=frags, indices=indices)
    if isinstance(op, O.CreateIndex):
        new = [
            i if isinstance(i, mf.IndexMeta) else mf.IndexMeta.from_json(i)
            for i in op.new_indices
        ]
        removed = {
            i if isinstance(i, str) else i.name for i in op.removed_indices
        } | {i.name for i in new}
        indices = [i for i in base.indices if i.name not in removed] + new
        return mf.Manifest.evolve(base, version, indices=indices)
    raise TypeError(f"unsupported operation: {type(op).__name__}")


_OP_NAMES = {
    "Append": "append", "Overwrite": "overwrite", "Delete": "delete",
    "Update": "update", "Merge": "merge", "Restore": "restore",
    "Rewrite": "rewrite", "Project": "project", "CreateIndex": "create_index",
    "UpdateConfig": "update_config", "Clone": "clone",
    "DataReplacement": "data_replacement", "UpdateBases": "update_bases",
}


def _deep_copy_clone(m: mf.Manifest, dest_uri: str) -> mf.Manifest:
    """Rewrite a cloned manifest to own its files: copy every referenced
    data/deletion/index file under ``dest_uri`` and store relative paths.
    Driver-side IO — fine for metadata-scale clones; at 100 TB run a
    distributed copy (DistCp-style) and commit the shallow form against
    the copied root instead."""
    import hashlib
    import os
    import shutil

    # dedupe by SOURCE path (not destination basename): two source files
    # with equal basenames from different directories — e.g. a
    # clone-of-clone spanning roots — must not silently map onto one
    # file's bytes (ADVICE r5)
    pulled: dict[str, str] = {}
    taken: set[str] = set()

    def _pull(abs_path: str, sub: str) -> str:
        src = abs_path.rstrip("/")
        if src in pulled:
            return pulled[src]
        rel = os.path.join(sub, os.path.basename(src))
        if rel in taken:  # basename collision → disambiguate by source dir
            tag = hashlib.sha1(os.path.dirname(src).encode()).hexdigest()[:8]
            rel = os.path.join(sub, f"{tag}-{os.path.basename(src)}")
        dst = os.path.join(dest_uri, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        if not os.path.exists(dst):
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copy2(src, dst)
        pulled[src] = rel
        taken.add(rel)
        return rel

    frags = [
        mf.Fragment(
            id=f.id,
            files=[mf.DataFile(_pull(df.path, "data"), list(df.columns)) for df in f.files],
            physical_rows=f.physical_rows,
            deletion_file=_pull(f.deletion_file, "_deletions") if f.deletion_file else None,
            num_deleted_rows=f.num_deleted_rows,
        )
        for f in m.fragments
    ]
    indices = [
        mf.IndexMeta(
            name=i.name, index_type=i.index_type, column=i.column,
            path=_pull(i.path, "_indices"), fragment_ids=list(i.fragment_ids),
            params=dict(i.params),
        )
        for i in m.indices
    ]
    # every file now lives under dest — the source's bases registry must
    # not be carried into the deep clone (ADVICE r5)
    return mf.Manifest.evolve(
        m, m.version, fragments=frags, indices=indices, bases=[]
    )


def commit(
    dest,
    operation,
    read_version: int | None = None,
    properties: dict | None = None,
    max_retries: int = 20,
):
    """Apply a typed operation as one new version (reference
    LanceDataset.commit, dataset.py:3059-3223). ``read_version`` is
    advisory here: conflict resolution is the optimistic rebase every
    mutation uses (the builder re-applies against the freshest base)."""
    import os

    from lance_spark.dataset import LanceDataset

    if isinstance(operation, Transaction):
        read_version = operation.read_version
        properties = properties or operation.transaction_properties or None
        operation = operation.operation
    uri = dest.uri if hasattr(dest, "uri") else os.path.abspath(str(dest))
    op_name = _OP_NAMES[type(operation).__name__]

    def build(base, version):
        return _apply(operation, base, version)

    if isinstance(operation, LanceOperation.Clone):
        src_uri = os.path.abspath(operation.ref_path)
        if operation.ref_version is not None:
            src_version = operation.ref_version
        elif operation.ref_name is not None:
            refs = {**mf.list_refs(src_uri, "tags"), **mf.list_refs(src_uri, "branches")}
            if operation.ref_name not in refs:
                raise ValueError(f"unknown ref {operation.ref_name!r} at {src_uri}")
            src_version = refs[operation.ref_name]
        else:
            src_version = mf.latest_version(src_uri)
            if src_version is None:
                raise FileNotFoundError(f"no dataset at {src_uri}")
        if mf.latest_version(uri) is not None:
            raise ValueError(f"dataset already exists at {uri}")
        snap = mf.read_manifest(src_uri, src_version)

        def build(base, version):  # noqa: F811
            if base is not None:
                # the exists pre-check above is racy: a writer may create
                # the destination between it and this commit — never stack
                # the clone on top of a foreign dataset
                raise ValueError(f"dataset already exists at {uri}")
            m = mf.cloned_manifest(src_uri, snap, version)
            if operation.is_shallow:
                return m
            return _deep_copy_clone(m, uri)

        committed = mf.commit(
            uri, build, operation="clone", max_retries=max_retries, properties=properties
        )
        if operation.branch_name:
            # point the branch at the version we actually committed, not a
            # hardcoded 1 (a conflicting writer could have taken version 1)
            mf.create_ref(uri, "branches", operation.branch_name, committed.version)
        return LanceDataset(uri)

    if isinstance(operation, LanceOperation.Restore):
        # Restore resolves against the dataset root, not the base manifest
        snap = mf.read_manifest(uri, operation.version)

        def build(base, version):  # noqa: F811
            return mf.Manifest.evolve(snap, version)

    mf.commit(uri, build, operation=op_name, max_retries=max_retries, properties=properties)
    return LanceDataset(uri)
