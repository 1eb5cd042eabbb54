"""LanceScanner — the reference's scanner object, as a real Spark DataFrame.

The reference's ``ds.scanner(...)`` returns a ``LanceScanner`` whose surface
is arrow-side materialization (python/python/lance/dataset.py:4219-4748:
``to_table`` / ``to_batches`` / ``to_reader`` / ``count_rows`` /
``explain_plan`` / ``analyze_plan`` / ``projected_schema``). Here the
scanner IS a DataFrame subclass: every Catalyst transformation works
unchanged (``.select`` / ``.filter`` / ``.join`` return plain DataFrames),
``isinstance(scanner, DataFrame)`` holds, and the reference's
materialization methods are layered on top. Nothing is computed at
construction — the scanner stays a logical plan until a materialization
method (or any Spark action) runs it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Iterator

from pyspark.sql.classic.dataframe import DataFrame

if TYPE_CHECKING:
    import pyarrow as pa


@dataclass
class ScanStatistics:
    """Post-scan IO accounting (reference lance/__init__.pyi:552).

    Harvested from Spark's executed-plan SQLMetrics after a
    materialization runs. ``bytes_read`` / ``parts_loaded`` come from the
    file-scan leaves ("size of files read" / "number of files read");
    ``iops`` / ``requests`` equal the file count (each local file read is
    at least one request — object-store backends would refine this).
    ``indices_loaded`` / ``index_comparisons`` stay 0 on plain scans:
    index probes run as separate index-table DataFrames here, not inside
    this scan plan. ``all_counts`` carries every raw metric by name."""

    iops: int = 0
    requests: int = 0
    bytes_read: int = 0
    indices_loaded: int = 0
    parts_loaded: int = 0
    index_comparisons: int = 0
    all_counts: dict = field(default_factory=dict)


# process-wide IO counters (reference __init__: bytes_read_counter /
# iops_counter). Fed by ScanStatistics harvests: metered materializations
# (scan_stats_callback / scan_stats / enable_io_counters) contribute;
# un-metered DataFrame actions do not — metering every action would put a
# py4j plan walk on every query.
_IO_COUNTERS = {"bytes_read": 0, "iops": 0, "enabled": False}


def enable_io_counters(on: bool = True) -> None:
    """Harvest IO stats on EVERY LanceScanner materialization (small py4j
    plan-walk overhead per query) so the global counters see all scans."""
    _IO_COUNTERS["enabled"] = bool(on)


def bytes_read_counter() -> int:
    return _IO_COUNTERS["bytes_read"]


def iops_counter() -> int:
    return _IO_COUNTERS["iops"]


def _executed_plan_metrics(df: DataFrame) -> dict:
    """Sum SQLMetric values across the executed plan's nodes (post-run)."""
    from lance_spark.plans.explain import node_metrics, walk_plan

    out: dict[str, int] = {}
    try:
        root = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    except Exception:
        return out
    # SQLMetrics are accumulators shared by reused exchanges / query-stage
    # wrappers; dedup by accumulator id so a metric reachable through two
    # plan paths is counted once.
    seen_acc: set[int] = set()
    for _, node in walk_plan(root):
        try:
            metrics = node_metrics(node)
        except Exception:
            continue
        for acc_id, name, val in metrics:
            if acc_id is not None:
                if acc_id in seen_acc:
                    continue
                seen_acc.add(acc_id)
            if val > 0:
                out[name] = out.get(name, 0) + val
    return out


def _stats_from_metrics(counts: dict) -> ScanStatistics:
    files = counts.get("number of files read", 0)
    st = ScanStatistics(
        iops=files,
        requests=files,
        bytes_read=counts.get("size of files read", 0),
        parts_loaded=files,
        all_counts=counts,
    )
    _IO_COUNTERS["bytes_read"] += st.bytes_read
    _IO_COUNTERS["iops"] += st.iops
    return st


@dataclass
class TaggedRecordBatch:
    """A record batch paired with the fragment it was read from
    (reference ``lance.fragment.TaggedRecordBatch`` shape, consumed by
    ``LanceScanner.scan_batches``)."""

    record_batch: "pa.RecordBatch"
    fragment: object


class LanceScanner(DataFrame):
    """A scan plan with the reference scanner's materialization surface.

    Subclasses the classic (JVM-backed) DataFrame, so it is accepted
    anywhere a DataFrame is — including the right side of joins and the
    plan-assertion helpers in ``lance_spark.plans.explain``.
    """

    def __new__(cls, df: DataFrame, dataset=None, scan_stats_callback=None):
        # the classic DataFrame defines __new__(cls, jdf, sql_ctx) and
        # invokes __init__ itself; bypass it so our (df, dataset, callback)
        # signature works — Python then calls our __init__ normally.
        return object.__new__(cls)

    def __init__(self, df: DataFrame, dataset=None, scan_stats_callback=None):
        super().__init__(df._jdf, df.sparkSession)  # noqa: SLF001
        self._lance_dataset = dataset
        self._scan_stats_callback = scan_stats_callback

    def _after_scan(self) -> None:
        if self._scan_stats_callback is not None:
            self._scan_stats_callback(_stats_from_metrics(_executed_plan_metrics(self)))
        elif _IO_COUNTERS["enabled"]:
            _stats_from_metrics(_executed_plan_metrics(self))

    # ------------------------------------------------- materialization
    def to_table(self) -> "pa.Table":
        """Collect to a pyarrow Table (reference dataset.py:4235).

        Driver-side by definition; for unbounded results iterate
        ``to_batches`` or keep working on the DataFrame."""
        t = self.toArrow()
        self._after_scan()
        return t

    def to_batches(self, batch_size: int | None = None) -> Iterator["pa.RecordBatch"]:
        """Iterator of RecordBatches (reference dataset.py:4246)."""
        t = self.to_table()
        return iter(t.to_batches(max_chunksize=batch_size) if batch_size else t.to_batches())

    def to_reader(self, batch_size: int | None = None) -> "pa.RecordBatchReader":
        """RecordBatchReader over the result (reference dataset.py:4242)."""
        import pyarrow as pa

        t = self.to_table()
        batches = t.to_batches(max_chunksize=batch_size) if batch_size else t.to_batches()
        return pa.RecordBatchReader.from_batches(t.schema, batches)

    def scan_batches(
        self,
        fragment_batch_size: int = 16,
        max_chunk_bytes: int = 2 << 30,
    ) -> Iterator["TaggedRecordBatch"]:
        """Record batches tagged with their owning fragment (reference
        dataset.py:4670 ``scan_batches``; its docstring promises
        TaggedRecordBatch — the tagging is real here). Re-runs this
        scanner's recorded plan (projection, filter, fragment restriction)
        in CHUNKS of ``fragment_batch_size`` fragments — ONE Spark job per
        chunk, not one per fragment (a sharded loader over a 10k-fragment
        dataset would otherwise pay 10k driver job launches; r11 fix). The
        per-row tag is the dataset's ``_with_fragment_id``, in either rowid
        regime; each batch keeps the scan's column and row order, as with
        ``fragment_batch_size=1``. A global ``limit``/``offset``
        has no per-fragment meaning and is refused rather than silently
        mis-sliced. Driver memory is bounded by one chunk's rows —
        ``max_chunk_bytes`` (default 2 GiB of on-disk file size, a proxy
        for materialized size) additionally cuts chunks early when
        fragments are WIDE (blob columns): a fixed 16-fragment chunk over
        multi-GB blob fragments would otherwise exceed driver memory
        (r13, VERDICT #8)."""
        ds = self._lance_dataset
        kwargs = getattr(self, "_scan_kwargs", None)
        if ds is None or kwargs is None:
            raise ValueError(
                "scan_batches requires a scanner built by ds.scanner(...)"
            )
        if kwargs["limit"] is not None or kwargs["offset"] is not None:
            raise ValueError(
                "scan_batches with limit/offset is not supported: a global"
                " row slice has no per-fragment meaning"
            )
        if kwargs.get("order_by"):
            raise ValueError(
                "scan_batches with order_by is not supported: batches are"
                " yielded in fragment order, a global sort has no"
                " per-fragment meaning"
            )
        if kwargs.get("with_row_address"):
            raise ValueError(
                "scan_batches with with_row_address is not supported: the"
                " fragment tag already carries the owner; use with_row_id"
            )
        # the allow-set and deleted-rows options must survive the rebuild —
        # silently dropping them would widen the row set (r11 review)
        passthrough = {
            "prefilter_rowids": kwargs.get("prefilter_rowids"),
            "include_deleted_rows": bool(kwargs.get("include_deleted_rows")),
        }
        wanted = set(kwargs["fragments"]) if kwargs["fragments"] is not None else None
        frags = [
            f for f in ds.manifest.fragments if wanted is None or f.id in wanted
        ]
        if fragment_batch_size <= 1:
            for frag in frags:
                part = ds.scanner(
                    self.sparkSession, columns=kwargs["columns"],
                    filter=kwargs["filter"], fragments=[frag.id],
                    with_row_id=kwargs["with_row_id"], **passthrough,
                )
                for b in part.toArrow().to_batches():
                    yield TaggedRecordBatch(record_batch=b, fragment=frag)
            return

        from lance_spark.write import ROWID_COL

        drop_rowid = not kwargs["with_row_id"]

        def _frag_bytes(frag) -> int:
            total = 0
            for df_ in frag.files:
                try:
                    total += os.path.getsize(ds._abs(df_.path))
                except OSError:
                    pass  # remote/missing stat: count-based cut still applies
            return total

        def _chunks():
            cur: list = []
            cur_bytes = 0
            for frag in frags:
                fb = _frag_bytes(frag)
                if cur and (
                    len(cur) >= fragment_batch_size
                    or cur_bytes + fb > max_chunk_bytes
                ):
                    yield cur
                    cur, cur_bytes = [], 0
                cur.append(frag)  # always ≥1 fragment per chunk
                cur_bytes += fb
            if cur:
                yield cur

        for chunk in _chunks():
            ids = [f.id for f in chunk]
            part = ds.scanner(
                self.sparkSession, columns=kwargs["columns"],
                filter=kwargs["filter"], fragments=ids,
                with_row_id=True, **passthrough,
            )
            # ONE scan for the whole chunk, each row tagged with its holder
            tbl = ds._with_fragment_id(self.sparkSession, part, fragments=ids).toArrow()
            fids = tbl["fragment_id"].to_numpy()
            out_tbl = tbl.drop_columns(
                ["fragment_id"] + ([ROWID_COL] if drop_rowid else [])
            )
            for frag in chunk:  # manifest order, like the per-fragment path
                mask = fids == frag.id
                if not mask.any():
                    continue
                sub = out_tbl.filter(mask)
                for b in sub.to_batches():
                    yield TaggedRecordBatch(record_batch=b, fragment=frag)

    @staticmethod
    def from_dataset(*args, **kwargs):
        """Not implemented (matches the reference, dataset.py:4645)."""
        raise NotImplementedError("from dataset")

    @staticmethod
    def from_fragment(*args, **kwargs):
        """Not implemented (matches the reference, dataset.py:4652)."""
        raise NotImplementedError("from fragment")

    @staticmethod
    def from_batches(*args, **kwargs):
        """Not implemented (matches the reference, dataset.py:4659)."""
        raise NotImplementedError("from batches")

    def count_rows(self) -> int:
        """Row count of the scan result (reference dataset.py:4635).

        With a stats callback registered (or global IO counters enabled),
        the count runs through a plan handle we keep (df.count() executes a
        derived JVM Dataset whose metrics are unreachable afterwards) so
        the scan metrics can be harvested post-run."""
        if self._scan_stats_callback is None and not _IO_COUNTERS["enabled"]:
            return self.count()
        from pyspark.sql import functions as F

        agg = self.groupBy().agg(F.count(F.lit(1)))
        n = int(agg.collect()[0][0])
        stats = _stats_from_metrics(_executed_plan_metrics(agg))
        if self._scan_stats_callback is not None:
            self._scan_stats_callback(stats)
        return n

    def scan_stats(self) -> ScanStatistics:
        """Execute (count) and return the scan's IO statistics."""
        out: list[ScanStatistics] = []
        prev = self._scan_stats_callback
        self._scan_stats_callback = out.append
        try:
            self.count_rows()
        finally:
            self._scan_stats_callback = prev
        return out[0]

    # ------------------------------------------------- observability
    @property
    def projected_schema(self) -> "pa.Schema":
        """Arrow schema of the scan output (reference scanner property)."""
        return self._arrow_schema()

    def _arrow_schema(self) -> "pa.Schema":
        # schema without executing: empty-limit conversion carries the
        # exact arrow schema Spark would produce for this plan.
        return self.limit(0).toArrow().schema

    @property
    def dataset_schema(self) -> "pa.Schema":
        """Arrow schema of the underlying dataset (not the projection)."""
        if self._lance_dataset is None:
            return self._arrow_schema()
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(self._lance_dataset.schema)

    def explain_plan(self, verbose: bool = False) -> str:
        """The Catalyst plan string (reference dataset.py:4719
        ``explain_plan``; scanner.rs:3651)."""
        from lance_spark.plans.explain import explain_plan

        return explain_plan(self, mode="extended" if verbose else "formatted")

    def analyze_plan(self) -> str:
        """Execute, then return the executed plan with runtime shape
        (reference dataset.py:4739 ``analyze_plan``)."""
        from lance_spark.plans.explain import analyze_plan

        return analyze_plan(self)


class ScannerBuilder:
    """Fluent scan builder (reference dataset.py:4180-4600 ScannerBuilder):
    every reference setter exists, records a ``LanceDataset.scanner``
    kwarg, and ``to_scanner()`` dispatches the accumulated options.
    ``apply_defaults`` (dataset.py:4211) routes a ``{option: value}`` dict
    through the named setters so saved option dicts replay verbatim."""

    def __init__(self, ds, spark=None):
        self.ds = ds
        self._spark = spark
        self._kw: dict = {}

    def apply_defaults(self, default_opts: dict) -> "ScannerBuilder":
        for key, value in default_opts.items():
            # only the public fluent setters are valid option names —
            # guarding on the name (not just callability) keeps internals
            # like _set / to_scanner from masquerading as options
            setter = getattr(self, key, None) if not key.startswith("_") else None
            if (setter is None or not callable(setter)
                    or key in ("apply_defaults", "to_scanner")):
                raise ValueError(f"Unknown option {key}")
            setter(value)
        return self

    def _set(self, key, value) -> "ScannerBuilder":
        self._kw[key] = value
        return self

    # passthrough knobs (accepted for call-site compatibility; batch and IO
    # shaping belong to Spark's scan machinery — see LanceDataset.scanner)
    def batch_size(self, batch_size: int) -> "ScannerBuilder":
        return self._set("batch_size", batch_size)

    def io_buffer_size(self, io_buffer_size: int) -> "ScannerBuilder":
        return self._set("io_buffer_size", io_buffer_size)

    def batch_readahead(self, nbatches: int | None = None) -> "ScannerBuilder":
        return self._set("batch_readahead", nbatches)

    def fragment_readahead(self, nfragments: int | None = None) -> "ScannerBuilder":
        return self._set("fragment_readahead", nfragments)

    def scan_in_order(self, scan_in_order: bool = True) -> "ScannerBuilder":
        return self._set("scan_in_order", scan_in_order)

    def use_stats(self, use_stats: bool = True) -> "ScannerBuilder":
        return self._set("use_stats", use_stats)

    def strict_batch_size(self, strict_batch_size: bool = False) -> "ScannerBuilder":
        return self._set("strict_batch_size", strict_batch_size)

    # plan-shaping options
    def limit(self, n: int | None = None) -> "ScannerBuilder":
        return self._set("limit", n)

    def offset(self, n: int | None = None) -> "ScannerBuilder":
        return self._set("offset", n)

    def columns(self, cols=None) -> "ScannerBuilder":
        return self._set("columns", cols)

    def filter(self, filter) -> "ScannerBuilder":  # noqa: A002
        return self._set("filter", filter)

    def prefilter(self, prefilter: bool) -> "ScannerBuilder":
        return self._set("prefilter", prefilter)

    def with_row_id(self, with_row_id: bool = True) -> "ScannerBuilder":
        return self._set("with_row_id", with_row_id)

    def with_row_address(self, with_row_address: bool = True) -> "ScannerBuilder":
        return self._set("with_row_address", with_row_address)

    def late_materialization(self, late_materialization) -> "ScannerBuilder":
        # reference accepts bool | list[str] (dataset.py:4374-4378); pass
        # through unmodified — LanceDataset.scanner handles both forms
        return self._set("late_materialization", late_materialization)

    def use_scalar_index(self, use_scalar_index: bool = True) -> "ScannerBuilder":
        return self._set("use_scalar_index", use_scalar_index)

    def with_fragments(self, fragments) -> "ScannerBuilder":
        if fragments is not None:
            fragments = [getattr(f, "id", f) for f in fragments]
        return self._set("fragments", fragments)

    def fast_search(self, flag: bool) -> "ScannerBuilder":
        return self._set("fast_search", flag)

    def include_deleted_rows(self, flag: bool) -> "ScannerBuilder":
        return self._set("include_deleted_rows", flag)

    def scan_stats_callback(self, callback) -> "ScannerBuilder":
        return self._set("scan_stats_callback", callback)

    def order_by(self, orderings=None) -> "ScannerBuilder":
        return self._set("order_by", orderings)

    def disable_scoring_autoprojection(self, disable: bool = True) -> "ScannerBuilder":
        """Keep an explicit projection as-is instead of auto-appending the
        _score/_distance column on search scans (dataset.py:4587)."""
        return self._set("disable_scoring_autoprojection", disable)

    def nearest(self, column: str, q, k: int | None = None, **kwargs) -> "ScannerBuilder":
        spec = {"column": column, "q": q}
        if k is not None:
            spec["k"] = k
        spec.update({k2: v for k2, v in kwargs.items() if v is not None})
        return self._set("nearest", spec)

    def full_text_search(self, query, columns=None) -> "ScannerBuilder":
        if columns:
            query = {"query": query, "columns": list(columns)}
        return self._set("full_text_query", query)

    def to_scanner(self, spark=None) -> "LanceScanner":
        from pyspark.sql import SparkSession

        spark = spark or self._spark or SparkSession.getActiveSession()
        if spark is None:
            raise ValueError("no SparkSession: pass one to to_scanner(spark)")
        return self.ds.scanner(spark, **self._kw)
