"""File-like access to blob columns — reference python/python/lance/blob.py.

The reference stores blob columns out-of-line and hands back lazy
``BlobFile`` handles (blob.py:52-105, rust/lance/src/dataset/blob.rs). Our
blob columns live in per-fragment sidecar parquet files (write.py:84-98)
keyed by ``_rowid`` — a ``BlobFile`` resolves one row's bytes with a
rowid-pruned point read (parquet row-group stats skip every other group),
then serves seek/read from the fetched buffer. The fetch happens on FIRST
read, not at construction, so iterating descriptors stays O(metadata).
"""

from __future__ import annotations

import io

import pyarrow.compute as pc
import pyarrow.parquet as pq

from lance_spark.write import ROWID_COL

#: footer metadata per blob file: (rowid column index, [(min,max)|None per
#: row group]). Footers are immutable, so caching is safe; a small cap
#: bounds driver memory when many files are touched.
_FOOTER_CACHE: dict[str, tuple] = {}
_FOOTER_CACHE_CAP = 256


def _rowid_groups(path: str, rowid: int) -> list[int]:
    """Row groups of ``path`` that may contain ``rowid``, from cached
    footer stats. Locates ``_rowid`` BY NAME (externally-produced sidecars
    may order columns differently — positional column(0) could read the
    binary column's stats) and honors ``has_min_max``."""
    meta = _FOOTER_CACHE.get(path)
    if meta is None:
        f = pq.ParquetFile(path)
        md = f.metadata
        names = [md.schema.column(j).name for j in range(md.num_columns)]
        idx = names.index(ROWID_COL) if ROWID_COL in names else None
        ranges = []
        for i in range(md.num_row_groups):
            rng = None
            if idx is not None:
                st = md.row_group(i).column(idx).statistics
                if st is not None and st.has_min_max:
                    rng = (st.min, st.max)
            ranges.append(rng)
        meta = (ranges,)
        while len(_FOOTER_CACHE) >= _FOOTER_CACHE_CAP:
            try:
                # concurrent BlobFile reads race here (thread pools are the
                # normal pattern for file-like handles): two threads can get
                # the same eviction key — tolerate the loser (r12 review)
                _FOOTER_CACHE.pop(next(iter(_FOOTER_CACHE)), None)
            except (StopIteration, RuntimeError):
                break
        _FOOTER_CACHE[path] = meta
    (ranges,) = meta
    return [
        i for i, rng in enumerate(ranges)
        if rng is None or (rng[0] <= rowid <= rng[1])
    ]


class BlobFile(io.RawIOBase):
    """Random-access reader over one blob cell (reference blob.py:52)."""

    def __init__(self, paths: list[str], column: str, rowid: int, size: int | None = None):
        self._paths = paths
        self._column = column
        self._rowid = rowid
        self._size = size
        self._buf: bytes | None = None
        self._pos = 0
        self._closed = False

    def _check_open(self) -> None:
        if self._closed:
            raise ValueError("I/O operation on closed BlobFile")

    # -- lazy fetch ---------------------------------------------------------
    def _load(self) -> bytes:
        self._check_open()
        if self._buf is None:
            for p in self._paths:
                # prune row groups on _rowid footer stats before any IO on
                # the (potentially huge) blob column
                groups = _rowid_groups(p, self._rowid)
                if not groups:
                    continue
                t = pq.ParquetFile(p).read_row_groups(
                    groups, columns=[ROWID_COL, self._column]
                )
                mask = pc.equal(t.column(ROWID_COL), self._rowid)
                hit = t.filter(mask)
                if hit.num_rows:
                    val = hit.column(self._column)[0].as_py()
                    # a NULL blob cell is a PRESENT row with empty content —
                    # not a missing rowid (BlobColumn yields None for the
                    # same case; a file handle serves empty bytes)
                    self._buf = b"" if val is None else val
                    break
            if self._buf is None:
                raise KeyError(f"rowid {self._rowid} not found in blob column {self._column}")
            self._size = len(self._buf)
        return self._buf

    def _fetch_size(self) -> int | None:
        """Size from the sidecar's ``{col}_size`` column — O(two tiny
        columns), never the multi-GB binary payload."""
        size_col = f"{self._column}_size"
        for p in self._paths:
            groups = _rowid_groups(p, self._rowid)
            if not groups:
                continue
            f = pq.ParquetFile(p)
            if size_col not in f.schema_arrow.names:
                # this file can't answer, but a LATER candidate (e.g. the
                # native sidecar next to an external one) may own the rowid
                # AND carry the size column — keep looking (r12 review)
                continue
            t = f.read_row_groups(groups, columns=[ROWID_COL, size_col])
            hit = t.filter(pc.equal(t.column(ROWID_COL), self._rowid))
            if hit.num_rows:
                v = hit.column(size_col)[0].as_py()
                return int(v) if v is not None else 0
        return None

    # -- io.RawIOBase surface ----------------------------------------------
    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    @property
    def closed(self) -> bool:  # type: ignore[override]
        return self._closed

    def close(self) -> None:
        self._closed = True
        self._buf = None

    def size(self) -> int:
        self._check_open()
        if self._size is None and self._buf is None:
            # the sidecar materializes {col}_size per row exactly so a
            # length check never downloads the payload
            self._size = self._fetch_size()
        if self._size is None:
            self._load()
        return self._size  # type: ignore[return-value]

    def tell(self) -> int:
        return self._pos

    def seek(self, offset: int, whence: int = io.SEEK_SET) -> int:
        self._check_open()
        if whence == io.SEEK_SET:
            pos = offset
        elif whence == io.SEEK_CUR:
            pos = self._pos + offset
        elif whence == io.SEEK_END:
            pos = self.size() + offset
        else:
            raise ValueError(f"invalid whence: {whence}")
        if pos < 0:
            # Python negative slicing would otherwise silently serve bytes
            # from the END of the blob (BytesIO raises here too)
            raise ValueError(f"negative seek position {pos}")
        self._pos = pos
        return self._pos

    def readall(self) -> bytes:
        buf = self._load()
        out = buf[self._pos :]
        # a seek past end-of-blob keeps its position (BytesIO semantics —
        # rewinding to len(buf) disagreed with read(n), r12 review)
        self._pos = max(self._pos, len(buf))
        return out

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            return self.readall()
        buf = self._load()
        out = buf[self._pos : self._pos + n]
        self._pos += len(out)
        return out

    def readinto(self, b: bytearray) -> int:
        data = self.read(len(b))
        b[: len(data)] = data
        return len(data)

    def __repr__(self) -> str:
        return f"BlobFile(column={self._column!r}, rowid={self._rowid})"


class BlobIterator:
    """Iterator of lazy file handles (reference blob.py:12-21)."""

    def __init__(self, files: list[BlobFile]):
        self._it = iter(files)

    def __iter__(self):
        return self

    def __next__(self) -> BlobFile:
        return next(self._it)


def _deleted_rowids_local(ds, frag) -> frozenset:
    """The fragment's deletion-sidecar rowids, read driver-side (bounded by
    its deleted-row count) and cached per sidecar path — deletion files
    are immutable."""
    p = frag.deletion_file
    if not p:
        return frozenset()
    cache = ds.__dict__.setdefault("_blob_del_cache", {})
    hit = cache.get(p)
    if hit is None:
        hit = frozenset(
            pq.read_table(ds._abs(p), columns=[ROWID_COL]).column(0).to_pylist()
        )
        cache[p] = hit
    return hit


def blob_files(ds, column: str, rowids: list[int]) -> list[BlobFile]:
    """``take_blobs``-shaped handle constructor: one lazy BlobFile per rowid
    (reference dataset.py:1500 ``take_blobs`` → list[BlobFile]). Each
    handle reads only the blob files of the fragments that may hold its
    rowid (``ds._fragments_holding``); row-group pruning inside a file
    happens at first read. A rowid no fragment can hold, or a DELETED one,
    raises KeyError up front — the blob sidecar is never rewritten on
    delete, so without the sidecar check a tombstoned row's stale bytes
    would be served."""
    ds._blob_files(column)  # validates the column

    def files_of(frag) -> list[str]:
        return [f.path for f in frag.files[1:] if column in f.columns]

    holders: dict[int, list] = {}
    paths_of: dict[int, list[str]] = {}
    for f, held in ds._fragments_holding(rowids, file_of=files_of):
        paths_of[f.id] = [ds._abs(p) for p in files_of(f)]
        for rid in held:
            holders.setdefault(rid, []).append(f)
    out = []
    for rid in rowids:
        paths = [p for f in holders.get(rid, []) for p in paths_of[f.id]]
        if not paths:
            raise KeyError(f"rowid {rid}: no fragment holds it in blob column {column}")
        if any(rid in _deleted_rowids_local(ds, f) for f in holders[rid]):
            raise KeyError(
                f"rowid {rid} is deleted; its blob bytes are no longer live"
            )
        out.append(BlobFile(paths, column, rid))
    return out


class BlobColumn:
    """Iterate a pyarrow binary column's rows as file-like objects
    (reference blob.py:23-50). For in-memory binary values that feed APIs
    expecting files — large out-of-line blobs should instead go through a
    blob column group and ``ds.take_blobs``."""

    def __init__(self, blob_column):
        import pyarrow as pa

        if not isinstance(blob_column, (pa.Array, pa.ChunkedArray)):
            raise ValueError(
                f"expected a pyarrow Array or ChunkedArray, got {type(blob_column)}"
            )
        t = blob_column.type
        if not (pa.types.is_binary(t) or pa.types.is_large_binary(t)):
            raise ValueError(f"expected a binary array, got {t}")
        self.blob_column = blob_column

    def __iter__(self):
        # null cells yield None (not a crash mid-iteration): arrow binary
        # columns routinely carry nulls and callers can filter them
        return (
            None if not v.is_valid else io.BytesIO(v.as_py())
            for v in self.blob_column
        )
