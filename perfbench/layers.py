"""Per-layer metrics of a traced run, and which end-to-end metric each one
should move.

Most are computed from spans: the span names are the layer names
(``write.append``, ``indexes.vector.probe``, ...), every timed op is an
``op.<name>`` span, and the Spark jobs each span ran come from
``spans.Attribution``. The rest are counts the workload collects itself
(``extras``). A layer a workload does not exercise reads 0.
"""

from __future__ import annotations

import statistics

# (name, unit, better, the end-to-end metric and workload it should move)
LAYERS = [
    ("session.start_s", "s", "lower", "ingest, curate: run wall before set-up; in no end-to-end metric"),
    ("write.append_ms", "ms", "lower", "ingest throughput_per_s, op_p50_ms (append latency)"),
    ("write.bytes_written_per_row", "B", "lower", "ingest bytes_per_row"),
    ("write.files_per_commit", "count", "lower", "ingest op_p50_ms (take and filter latency)"),
    ("manifest.commit_ms", "ms", "lower", "ingest throughput_per_s"),
    ("manifest.versions_written", "count", "lower", "ingest bytes_per_row"),
    ("manifest.cache_hit_rate", "ratio", "higher", "ingest throughput_per_s, op_p50_ms"),
    ("manifest.fragments_at_read", "count", "lower", "ingest op_p50_ms (take, ann, filter latency)"),
    ("dataset.take_ms", "ms", "lower", "ingest op_p50_ms (take latency)"),
    ("dataset.take_input_bytes", "B", "lower", "ingest op_p50_ms (take latency)"),
    ("dataset.take_jobs", "count", "lower", "ingest op_p50_ms (take latency)"),
    ("dataset.scan_ms", "ms", "lower", "ingest op_p50_ms (filter latency)"),
    ("dataset.scan_input_bytes", "B", "lower", "ingest op_p50_ms (filter latency)"),
    ("indexes.vector.build_s", "s", "lower", "ingest setup_s"),
    ("indexes.vector.probe_ms", "ms", "lower", "ingest throughput_per_s (ann latency), recall held"),
    ("indexes.vector.jobs_per_query", "count", "lower", "ingest throughput_per_s (ann latency)"),
    ("indexes.vector.input_rows_per_hit", "count", "lower", "ingest throughput_per_s (ann latency)"),
    ("indexes.vector.extend_s", "s", "lower", "ingest throughput_per_s"),
    ("indexes.inverted.build_s", "s", "lower", "curate throughput_per_s"),
    ("indexes.inverted.probe_ms", "ms", "lower", "curate throughput_per_s (fts latency)"),
    ("indexes.inverted.jobs_per_query", "count", "lower", "curate throughput_per_s (fts latency)"),
    ("indexes.inverted.shuffle_bytes_per_query", "B", "lower", "curate throughput_per_s (fts latency)"),
    ("indexes.scalar.build_s", "s", "lower", "ingest setup_s"),
    ("indexes.scalar.probe_ms", "ms", "lower", "ingest op_p50_ms (filter latency)"),
    ("indexes.scalar.rows_examined_per_row_returned", "count", "lower", "ingest op_p50_ms (filter latency)"),
    ("indexes.scalar.extend_s", "s", "lower", "ingest throughput_per_s"),
    ("mutation.upsert_ms", "ms", "lower", "ingest throughput_per_s (upsert latency)"),
    ("mutation.upsert_jobs", "count", "lower", "ingest throughput_per_s (upsert latency)"),
    ("mutation.upsert_shuffle_bytes", "B", "lower", "ingest throughput_per_s (upsert latency)"),
    ("mutation.delete_ms", "ms", "lower", "ingest op_p50_ms, throughput_per_s (delete latency)"),
    ("mutation.delete_jobs", "count", "lower", "ingest op_p50_ms, throughput_per_s (delete latency)"),
    ("maintenance.compact_s", "s", "lower", "ingest throughput_per_s, bytes_per_row"),
    ("maintenance.bytes_rewritten", "B", "lower", "ingest throughput_per_s, bytes_per_row"),
    ("maintenance.optimize_indices_s", "s", "lower", "ingest throughput_per_s"),
    ("maintenance.cleanup_s", "s", "lower", "ingest throughput_per_s, bytes_per_row"),
    ("maintenance.files_removed", "count", "higher", "ingest bytes_per_row"),
    ("maintenance.read_stall_ms", "ms", "lower", "ingest op_p50_ms (reads after maintenance)"),
    ("operators.dedup.exact_s", "s", "lower", "curate throughput_per_s (dedup time)"),
    ("operators.dedup.minhash_s", "s", "lower", "curate throughput_per_s (dedup time)"),
    ("operators.dedup.semantic_s", "s", "lower", "curate throughput_per_s (dedup time)"),
    ("operators.dedup.fpindex_build_s", "s", "lower", "curate throughput_per_s (dedup time)"),
    ("operators.dedup.fpindex_probe_s", "s", "lower", "curate throughput_per_s (dedup time)"),
    ("operators.dedup.candidate_precision", "ratio", "higher", "curate throughput_per_s, recall held"),
    ("operators.dedup.band_shuffle_bytes", "B", "lower", "curate throughput_per_s (dedup time)"),
    ("operators.curation.quality_s", "s", "lower", "curate throughput_per_s"),
    ("operators.curation.classify_s", "s", "lower", "curate throughput_per_s"),
    ("operators.curation.classify_jobs", "count", "lower", "curate throughput_per_s"),
    ("spark.jobs", "count", "lower", "ingest, curate throughput_per_s"),
    ("spark.stages", "count", "lower", "ingest, curate throughput_per_s"),
    ("spark.task_run_s", "s", "lower", "ingest, curate throughput_per_s"),
    ("spark.task_cpu_s", "s", "lower", "ingest, curate throughput_per_s"),
    ("spark.python_gap_s", "s", "lower", "ingest, curate throughput_per_s"),
    ("spark.shuffle_write_bytes", "B", "lower", "ingest, curate throughput_per_s"),
    ("spark.spill_bytes", "B", "lower", "ingest, curate throughput_per_s"),
    ("spark.driver_s", "s", "lower", "ingest, curate throughput_per_s"),
    ("tracing.overhead_pct", "%", "lower", "none: span bookkeeping time / summed op time of the traced run"),
]
NAMES = [name for name, *_ in LAYERS]


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def compute(attr, pass_span, extras: dict, k: int = 10) -> dict:
    """Every per-layer metric. ``pass_span`` is the traced pass; set-up
    spans outside it count only for the build metrics."""
    inside = {s.span_id for s in attr.descendants(pass_span)}
    setup = {d.span_id for s in attr.spans if s.name == "setup" for d in attr.descendants(s)}
    named: dict[str, list] = {}
    for s in attr.spans:
        named.setdefault(s.name, []).append(s)

    def spans(name, in_pass=True):
        keep = inside if in_pass else inside | setup
        return [s for s in named.get(name, []) if s.span_id in keep]

    def dur(name, scale=1.0, in_pass=True):
        return _med([s.dur * scale for s in spans(name, in_pass)])

    def per(name, field):
        return _mean([getattr(attr.cost(s), field) for s in spans(name)])

    ops = [s for s in attr.children.get(pass_span.span_id, []) if s.name.startswith("op.")]
    costs = [attr.cost(s) for s in ops]
    filter_rows = extras.pop("filter_rows", 0)
    maint = spans("op.maintain")
    out = {
        "write.append_ms": dur("write.append", 1e3),
        "manifest.commit_ms": dur("manifest.commit", 1e3),
        "manifest.versions_written": len(spans("manifest.commit")),
        "dataset.take_ms": dur("dataset.take", 1e3),
        "dataset.take_input_bytes": per("dataset.take", "input_bytes"),
        "dataset.take_jobs": per("dataset.take", "jobs"),
        "dataset.scan_ms": dur("dataset.scan", 1e3),
        "dataset.scan_input_bytes": per("dataset.scan", "input_bytes"),
        "indexes.vector.build_s": dur("indexes.vector.build", in_pass=False),
        "indexes.vector.probe_ms": dur("indexes.vector.probe", 1e3),
        "indexes.vector.jobs_per_query": per("indexes.vector.probe", "jobs"),
        "indexes.vector.input_rows_per_hit": per("indexes.vector.probe", "input_records") / k,
        "indexes.vector.extend_s": dur("indexes.vector.extend"),
        "indexes.inverted.build_s": dur("indexes.inverted.build", in_pass=False),
        "indexes.inverted.probe_ms": dur("indexes.inverted.probe", 1e3),
        "indexes.inverted.jobs_per_query": per("indexes.inverted.probe", "jobs"),
        "indexes.inverted.shuffle_bytes_per_query": per("indexes.inverted.probe", "shuffle_write_bytes"),
        "indexes.scalar.build_s": dur("indexes.scalar.build", in_pass=False),
        "indexes.scalar.probe_ms": dur("indexes.scalar.probe", 1e3),
        "indexes.scalar.rows_examined_per_row_returned": (
            sum(attr.cost(s).input_records for s in spans("dataset.scan")) / filter_rows
            if filter_rows else 0.0
        ),
        "indexes.scalar.extend_s": dur("indexes.scalar.extend"),
        "mutation.upsert_ms": dur("mutation.upsert", 1e3),
        "mutation.upsert_jobs": per("mutation.upsert", "jobs"),
        "mutation.upsert_shuffle_bytes": per("mutation.upsert", "shuffle_write_bytes"),
        "mutation.delete_ms": dur("mutation.delete", 1e3),
        "mutation.delete_jobs": per("mutation.delete", "jobs"),
        "maintenance.compact_s": dur("maintenance.compact"),
        "maintenance.optimize_indices_s": _med(
            [sum(c.dur for c in attr.children.get(m.span_id, []) if c.name.endswith(".extend"))
             for m in maint]
        ),
        "maintenance.cleanup_s": dur("maintenance.cleanup"),
        "operators.dedup.exact_s": dur("operators.dedup.exact"),
        "operators.dedup.minhash_s": dur("operators.dedup.minhash"),
        "operators.dedup.semantic_s": dur("operators.dedup.semantic"),
        "operators.dedup.fpindex_build_s": dur("operators.dedup.fpindex_build"),
        "operators.dedup.fpindex_probe_s": dur("operators.dedup.fpindex_probe"),
        "operators.dedup.band_shuffle_bytes": sum(
            attr.cost(s).shuffle_write_bytes
            for s in spans("operators.dedup.semantic") + spans("operators.dedup.fpindex_probe")
        ),
        "operators.curation.quality_s": dur("operators.curation.quality"),
        "operators.curation.classify_s": dur("operators.curation.classify"),
        "operators.curation.classify_jobs": per("operators.curation.classify", "jobs"),
        "spark.jobs": sum(c.jobs for c in costs),
        "spark.stages": sum(c.stages for c in costs),
        "spark.task_run_s": sum(c.task_run_s for c in costs),
        "spark.task_cpu_s": sum(c.task_cpu_s for c in costs),
        "spark.python_gap_s": sum(c.task_run_s - c.task_cpu_s for c in costs),
        "spark.shuffle_write_bytes": sum(c.shuffle_write_bytes for c in costs),
        "spark.spill_bytes": sum(c.spill_bytes for c in costs),
        "spark.driver_s": sum(attr.driver_s(s) for s in ops),
    }
    out.update(extras)
    return {name: float(out.get(name, 0.0)) for name in NAMES}
