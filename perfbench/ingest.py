"""ingest: mutations and maintenance of an indexed, versioned table, with
the reads a serving client makes between them.

The table has the schema ``id, text, category, price, embedding``, an
IVF_PQ index on ``embedding`` and a BITMAP index on ``category``. One
closed-loop client runs a fixed, seeded op sequence: rounds of

    append, upsert, take, ann, filter, maintain, take, ann, filter, delete

where ``maintain`` is compaction, one ``optimize_indices`` per index and
version cleanup. The reads before ``maintain`` see a table that has grown,
fragmented and has stale indexes; the same reads after it see the
compacted, re-indexed table. So a read speed-up that costs writes, or
helps only clean tables, shows here.

Every op's output is checked: ``take`` against the model's rows, ``ann``
against exact numpy top-10 (its recall is the ``recall`` metric),
``filter`` against the model, and at the end the row count, a checksum and
``validate()``. Full-text search is measured on ``curate``'s output, whose
index build it follows.
"""

from __future__ import annotations

import os
import time
from datetime import timedelta

import lance_spark as ls
import numpy as np
from lance_spark.dataset import Session
from lance_spark.write import ROWID_COL, input_to_spark_df
from pyspark.sql import functions as F

import gen
from common import SETUPS, Ctx, Result, cache_hit_rate, median, phase, tree_bytes, tree_files

BASE_ROWS = 6_000
FRAGMENTS = 8
BATCH = 600  # rows per append and per upsert (half matched, half new)
DELETE_IDS = 120
TAKE_IDS = 64
K = 10
NPROBES = 8
REFINE = 10
ROUND = ("append", "upsert", "take", "ann", "filter", "maintain", "take", "ann", "filter", "delete")
READS = ("take", "ann", "filter")
# the op types whose first call compiles plans the set-up has not; append
# and maintain reuse the write and index-build paths the set-up warmed
WARM_OPS = ["upsert", "delete", *READS]
# wall seconds of one ROUND on a 4-core host; --seconds picks the round count
ROUND_NOMINAL_S = 16.0
VEC_IDX, CAT_IDX = "embedding_idx", "category_bitmap_idx"
# mean ANN recall@10 below this fails the run: an index that returns
# garbage quickly must not read as a speed-up
RECALL_FLOOR = 0.5


def plan(seconds: int) -> list[str]:
    return list(ROUND) * max(1, round(seconds / ROUND_NOMINAL_S))


class Model:
    """What the table must hold: id -> (text, category, price, embedding),
    plus the _rowid of every row whose rowid the benchmark has read back."""

    def __init__(self, rows: gen.Rows):
        self.rows: dict[int, tuple] = {}
        self.rowid: dict[int, int] = {}
        self.put(rows)

    def put(self, rows: gen.Rows) -> None:
        for i in range(len(rows)):
            k = int(rows.id[i])
            self.rows[k] = (rows.text[i], rows.category[i], float(rows.price[i]), rows.embedding[i])
            self.rowid.pop(k, None)  # an updated row gets a new rowid

    def delete(self, lo: int, hi: int) -> None:
        for k in range(lo, hi):
            self.rows.pop(k, None)
            self.rowid.pop(k, None)

    def checksum(self) -> tuple:
        ids = np.fromiter(self.rows.keys(), dtype=np.int64)
        cents = sum(int(round(v[2] * 100)) for v in self.rows.values())
        chars = sum(len(v[0]) for v in self.rows.values())
        return (len(ids), int(ids.sum()), cents, chars)


def build(ctx: Ctx, tracer, uri: str, base_df, rows: int):
    """The workload's set-up: write the table and build its indexes."""
    spark = ctx.spark
    with tracer.span("setup"):
        with tracer.span("write.create"):
            ds = ls.write_dataset(base_df, uri, max_rows_per_fragment=max(1, rows // FRAGMENTS))
        with tracer.span("indexes.vector.build"):
            ds = ds.create_index(spark, "embedding", "IVF_PQ", name=VEC_IDX,
                                 num_partitions=16, num_sub_vectors=8, metric="l2")
        with tracer.span("indexes.scalar.build"):
            ds = ds.create_scalar_index(spark, "category", "BITMAP", name=CAT_IDX)
    return ds


class Pass:
    """One run of the op sequence against one freshly built table."""

    def __init__(self, ctx: Ctx, tracer, ds, base: gen.Rows, ops: list[str]):
        self.tracer, self.ds = tracer, ds
        self.spark = ctx.spark
        self.uri = ds.uri
        self.ops = ops
        self.model = Model(base)
        # op payloads come from their own streams, so every pass over the
        # same seed issues the same requests
        self.gen = gen.TableGen(ctx.seed + 1)
        self.rng = np.random.default_rng(ctx.seed + 2)
        self.n_base = len(base)
        self.next_id = int(base.id.max()) + 1
        self.seq: list[tuple[str, float]] = []
        self.recalls: list[float] = []
        self.problems: list[str] = []
        self.failed = 0
        self.append_bytes: list[float] = []
        self.append_files: list[int] = []
        self.frags_at_read: list[int] = []
        self.compact_bytes: list[int] = []
        self.files_removed: list[int] = []
        self.filter_rows = 0

    def refresh_rowids(self) -> None:
        pdf = self.ds.to_df(self.spark, with_row_id=True).select("id", ROWID_COL).toPandas()
        self.model.rowid = dict(zip(pdf["id"].tolist(), pdf[ROWID_COL].tolist()))

    def run(self) -> float:
        """Run every op; returns the summed op latency in seconds."""
        self.refresh_rowids()
        for op in self.ops:
            if op in READS and self.tracer.enabled:
                self.frags_at_read.append(len(self.ds.get_fragments()))
            prep = getattr(self, f"_prep_{op}")()
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"op.{op}"):
                    out = getattr(self, f"_do_{op}")(prep)
            except Exception as exc:  # a failed op is counted, not fatal
                ok = f"{op} raised {type(exc).__name__}: {exc}"
            else:
                ok = None
            dt = time.perf_counter() - t0
            if ok is None:
                try:
                    ok = getattr(self, f"_check_{op}")(prep, out)
                except Exception as exc:
                    ok = f"checking {op} raised {type(exc).__name__}: {exc}"
            if ok is not True:
                self.failed += 1
                self.problems.append(ok)
            self.seq.append((op, dt))
        return sum(dt for _, dt in self.seq)

    def _new_rows(self, ids) -> gen.Rows:
        return self.gen.rows(np.asarray(ids, dtype=np.int64))

    def _prep_append(self):
        rows = self._new_rows(np.arange(self.next_id, self.next_id + BATCH))
        self.next_id += BATCH
        before = tree_files(self.uri) if self.tracer.enabled else None
        return rows, input_to_spark_df(rows.to_arrow()), before

    def _do_append(self, prep):
        with self.tracer.span("write.append"):
            self.ds = ls.write_dataset(prep[1], self.uri, mode="append")

    def _check_append(self, prep, _out):
        rows, _df, before = prep
        self.model.put(rows)
        if before is not None:
            after = tree_files(self.uri)
            new = after.keys() - before.keys()
            self.append_files.append(len(new))
            self.append_bytes.append(sum(after[f] for f in new) / BATCH)
        return True

    def _prep_upsert(self):
        live = np.fromiter(self.model.rows.keys(), dtype=np.int64)
        matched = self.rng.choice(live, BATCH // 2, replace=False)
        fresh = np.arange(self.next_id, self.next_id + BATCH - BATCH // 2)
        self.next_id += len(fresh)
        rows = self._new_rows(np.concatenate([matched, fresh]))
        return rows, input_to_spark_df(rows.to_arrow())

    def _do_upsert(self, prep):
        with self.tracer.span("mutation.upsert"):
            (self.ds.merge_insert("id").when_matched_update_all()
             .when_not_matched_insert_all().execute(self.spark, prep[1]))
            self.ds = ls.dataset(self.uri)

    def _check_upsert(self, prep, _out):
        self.model.put(prep[0])
        return True

    def _prep_delete(self):
        lo = int(self.rng.integers(0, self.n_base - DELETE_IDS))
        return lo, lo + DELETE_IDS

    def _do_delete(self, prep):
        with self.tracer.span("mutation.delete"):
            self.ds = self.ds.delete(self.spark, f"id >= {prep[0]} AND id < {prep[1]}")

    def _check_delete(self, prep, _out):
        self.model.delete(*prep)
        return True

    def _prep_take(self):
        known = np.fromiter(self.model.rowid.keys(), dtype=np.int64)
        ids = self.rng.choice(known, TAKE_IDS, replace=False)
        return ids, [self.model.rowid[int(i)] for i in ids]

    def _do_take(self, prep):
        with self.tracer.span("dataset.take"):
            return self.ds.take(self.spark, prep[1], columns=["id", "text", "category", "price"]).collect()

    def _check_take(self, prep, out):
        got = {r["id"]: (r["text"], r["category"], r["price"]) for r in out}
        if sorted(got) != sorted(int(i) for i in prep[0]) or len(out) != TAKE_IDS:
            return f"take returned ids {sorted(got)[:5]}... for {sorted(prep[0])[:5]}..."
        for i, v in got.items():
            m = self.model.rows[i]
            if v != (m[0], m[1], m[2]):
                return f"take id {i}: {v} != model {m[:3]}"
        return True

    def _prep_ann(self):
        return self.gen.query_vectors(1)[0]

    def _do_ann(self, q):
        with self.tracer.span("indexes.vector.probe"):
            return self.ds.nearest(self.spark, "embedding", q.tolist(), k=K, nprobes=NPROBES,
                                   refine_factor=REFINE).select("id").collect()

    def _check_ann(self, q, out):
        ids = [r["id"] for r in out]
        if len(ids) != K or len(set(ids)) != K or any(i not in self.model.rows for i in ids):
            return f"ann returned {ids}: not {K} distinct live rows"
        live = np.fromiter(self.model.rows.keys(), dtype=np.int64)
        emb = np.stack([self.model.rows[int(i)][3] for i in live]).astype(np.float64)
        d = ((emb - q.astype(np.float64)) ** 2).sum(axis=1)
        exact = set(live[np.argsort(d, kind="stable")[:K]].tolist())
        self.recalls.append(len(exact & set(ids)) / K)
        return True

    def _prep_filter(self):
        cat = f"c{int(self.rng.integers(0, gen.N_CATEGORIES)):02d}"
        lo = round(float(self.rng.uniform(1, 700)), 2)
        return cat, lo, lo + 300

    def _do_filter(self, prep):
        cat, lo, hi = prep
        with self.tracer.span("indexes.scalar.probe"):
            df = self.ds.scan_with_index(
                self.spark, f"category = '{cat}' AND price >= {lo} AND price < {hi}", columns=["id", "price"]
            )
        with self.tracer.span("dataset.scan"):
            return df.collect()

    def _check_filter(self, prep, out):
        cat, lo, hi = prep
        want = sorted(k for k, v in self.model.rows.items() if v[1] == cat and lo <= v[2] < hi)
        got = sorted(r["id"] for r in out)
        self.filter_rows += len(got)
        return True if got == want else f"filter {prep}: {len(got)} rows, model has {len(want)}"

    def _prep_maintain(self):
        return tree_files(self.uri) if self.tracer.enabled else None

    def _do_maintain(self, before):
        t = self.tracer
        with t.span("maintenance.compact"):
            self.ds = self.ds.compact_files(self.spark, target_rows_per_fragment=self.n_base // 4)
        after_compact = tree_files(self.uri) if t.enabled else None
        for layer, name in (("vector", VEC_IDX), ("scalar", CAT_IDX)):
            with t.span(f"indexes.{layer}.extend"):
                self.ds = self.ds.optimize_indices(self.spark, index_names=[name])
        with t.span("maintenance.cleanup"):
            removed = self.ds.cleanup_old_versions(older_than=timedelta(0))
        self.ds = ls.dataset(self.uri)
        return before, after_compact, removed

    def _check_maintain(self, _prep, out):
        before, after_compact, removed = out
        if before is not None:
            self.compact_bytes.append(sum(after_compact[f] for f in after_compact.keys() - before.keys()))
            self.files_removed.append(removed)
        # compaction may rewrite rowids; read them back, untimed
        self.refresh_rowids()
        return True

    def final_checks(self) -> list[str]:
        problems = []
        ds = self.ds
        try:
            ds.validate()
        except ValueError as exc:
            problems.append(str(exc))
        r = ds.to_df(self.spark).agg(
            F.count("*"), F.sum("id"), F.sum(F.round(F.col("price") * 100).cast("long")),
            F.sum(F.length("text")),
        ).collect()[0]
        got = tuple(int(x or 0) for x in r)
        want = self.model.checksum()
        if got != want:
            problems.append(f"final count/checksum {got} != model {want}")
        if self.recalls and float(np.mean(self.recalls)) < RECALL_FLOOR:
            problems.append(f"ann recall@{K} {np.mean(self.recalls):.3f} < {RECALL_FLOOR}")
        return problems

    def read_stall_ms(self) -> float:
        """Read p50 in the 5 ops after each maintenance pass minus the read
        p50 in the 5 ops before it, averaged over passes."""
        out = []
        for i, (op, _dt) in enumerate(self.seq):
            if op != "maintain":
                continue
            before = [dt for o, dt in self.seq[max(0, i - 5):i] if o in READS]
            after = [dt for o, dt in self.seq[i + 1:i + 6] if o in READS]
            if before and after:
                out.append((median(after) - median(before)) * 1e3)
        return float(np.mean(out)) if out else 0.0


def run(ctx: Ctx, traced_tracer=None) -> Result:
    """Set up SETUPS tables, warm the op types on the first, run the timed
    sequence on the last. With ``traced_tracer`` the set-ups and the
    sequence run traced, and per-layer metrics come from the sequence."""
    from spans import NullTracer

    null = NullTracer()
    setup_tracer = traced_tracer or null
    base = gen.TableGen(ctx.seed).rows(np.arange(BASE_ROWS))
    base_df = input_to_spark_df(base.to_arrow())
    ops = plan(ctx.seconds)

    tables, setup_s = [], []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        tables.append(build(ctx, setup_tracer, os.path.join(ctx.work, f"t{k}"), base_df, BASE_ROWS))
        setup_s.append(time.perf_counter() - t0)
        if k == 0:
            # untimed warm-up on the first table, so the timed ops do not
            # pay JIT and codegen; the first set-up does, which the median
            # of SETUPS set-ups leaves out
            warm = Pass(ctx, null, tables[0], base, WARM_OPS)
            with phase("warm"):
                warm.run()
            if warm.failed:
                return Result({}, len(warm.seq), warm.failed, warm.problems)

    def measure(tracer, ds):
        p = Pass(ctx, tracer, ds, base, ops)
        with phase("pass"):
            busy = p.run()
            p.problems.extend(p.final_checks())
        return p, busy

    if traced_tracer is None:
        plain, busy = measure(null, tables[-1])
        metrics = {
            "setup_s": median(setup_s),
            "throughput_per_s": len(plain.seq) / busy,
            "op_p50_ms": median([dt for _, dt in plain.seq]) * 1e3,
            "recall": float(np.mean(plain.recalls)) if plain.recalls else 0.0,
            "bytes_per_row": tree_bytes(plain.uri) / max(len(plain.model.rows), 1),
        }
        return Result(metrics, len(plain.seq), plain.failed, plain.problems, detail={
            "setup_s": setup_s,
            "warm_ms": [(o, round(dt * 1e3, 1)) for o, dt in warm.seq],
            "ops_ms": [(o, round(dt * 1e3, 1)) for o, dt in plain.seq],
        })

    cache0, cost0 = Session().stats(), traced_tracer.cost_s
    traced_tracer.install()
    try:
        with traced_tracer.span("pass"):
            tp, busy = measure(traced_tracer, tables[-1])
    finally:
        traced_tracer.uninstall()
    return Result({}, len(tp.seq), tp.failed, tp.problems, layers={
        "tracing.overhead_pct": (traced_tracer.cost_s - cost0) / busy * 100,
        "manifest.cache_hit_rate": cache_hit_rate(cache0, Session().stats()),
        "manifest.fragments_at_read": float(np.mean(tp.frags_at_read)) if tp.frags_at_read else 0.0,
        "write.bytes_written_per_row": median(tp.append_bytes),
        "write.files_per_commit": median(tp.append_files),
        "maintenance.bytes_rewritten": median(tp.compact_bytes),
        "maintenance.files_removed": median(tp.files_removed),
        "maintenance.read_stall_ms": tp.read_stall_ms(),
        "filter_rows": tp.filter_rows,
    })

