"""curate: one batch training-data pipeline over generated documents.

The documents are Zipfian text with stop words (so stop-word shingles are
the hot keys), clustered embeddings and three labels, with exact
duplicates, near duplicates and low-quality documents planted. The steps
run in this order, each one's output staged to parquet so its cost is its
own:

    quality   operators.curation.gopher_quality, keep the passing rows
    exact     operators.dedup.exact_dedup
    minhash   operators.dedup.minhash_lsh_pairs, drop the larger id of a pair
    semantic  operators.dedup.semantic_dedup_keep
    fpindex_build / fpindex_probe
              build_fingerprint_index on the lower half of the ids, then
              dedup_against_index on the upper half
    classify  operators.curation.nb_classify, trained on the labelled fifth
    write     write_dataset of the curated rows
    index     create_inverted_index on the output
    fts       full_text_search on the output

Almost all of its work is in the dedup and curation operators and the
shuffle; it makes no point reads. The closing search probes a freshly
built, unfragmented index, the opposite of the stale indexes ``ingest``
reads through. Output checks: the quality step drops
exactly the planted low-quality documents, at least DUP_RECALL_FLOOR of
the planted duplicate pairs lose a member, at most LOST_CEILING of the
document groups lose every member, the classifier beats
ACCURACY_FLOOR, and the search returns the top-k of the flat
``operators.fts.bm25_search`` over the same rows.
"""

from __future__ import annotations

import os
import time

import lance_spark as ls
from lance_spark.dataset import Session
from lance_spark.indexes.inverted import create_inverted_index
from lance_spark.operators import curation, dedup
from lance_spark.operators.fts import bm25_search
from pyspark.sql import functions as F

import gen
from common import SETUPS, Ctx, Result, cache_hit_rate, median, phase, tree_bytes

N_DOCS = 1_500
STEPS = ("quality", "exact", "minhash", "semantic", "fpindex_build", "fpindex_probe",
         "classify", "write", "index", "fts")
LAYER = {
    "quality": "operators.curation.quality", "exact": "operators.dedup.exact",
    "minhash": "operators.dedup.minhash", "semantic": "operators.dedup.semantic",
    "fpindex_build": "operators.dedup.fpindex_build",
    "fpindex_probe": "operators.dedup.fpindex_probe",
    "classify": "operators.curation.classify", "write": "write.create",
    "index": "indexes.inverted.build", "fts": "indexes.inverted.probe",
}
DEDUP_STEPS = ("exact", "minhash", "semantic", "fpindex_build", "fpindex_probe")
MIN_COSINE = 0.95
DUP_RECALL_FLOOR = 0.9
LOST_CEILING = 0.02
ACCURACY_FLOOR = 0.8
K = 10


class Pipeline:
    """One pass of the pipeline over one source dataset."""

    def __init__(self, ctx: Ctx, tracer, src_uri: str, corpus: gen.Corpus, out_dir: str):
        self.tracer, self.spark = tracer, ctx.spark
        self.src_uri, self.corpus, self.dir = src_uri, corpus, out_dir
        self.mid = corpus.table.num_rows // 2
        # planted duplicate id -> id of the original it was copied from
        self.origin = {**corpus.exact_dups, **corpus.near_dups}
        self.lat: list[tuple[str, float]] = []
        self.problems: list[str] = []
        self.failed = 0
        self.pairs: list[tuple[int, int]] = []
        self.kept_after_quality: set[int] = set()
        self.final: set[int] = set()
        self.out = None
        self.preds: dict[int, str] = {}
        self.hits: list[tuple[int, float]] = []

    def _stage(self, df, name: str):
        path = os.path.join(self.dir, name)
        df.write.parquet(path)
        return self.spark.read.parquet(path)

    def run(self) -> float:
        spark, t = self.spark, self.tracer
        src = ls.dataset(self.src_uri).to_df(spark)
        state = {}

        def quality():
            q = curation.gopher_quality(src, "text", "id")
            state["s"] = self._stage(src.join(q.filter("gopher_keep").select("id"), "id"), "quality")

        def exact():
            state["s"] = self._stage(dedup.exact_dedup(state["s"], "text", "id"), "exact")

        def minhash():
            rows = dedup.minhash_lsh_pairs(state["s"], "text", "id").select("id_a", "id_b").collect()
            self.pairs = [(r["id_a"], r["id_b"]) for r in rows]
            drop = sorted({max(p) for p in self.pairs}) or [-1]
            drop_df = spark.createDataFrame([(i,) for i in drop], "id long")
            state["s"] = self._stage(state["s"].join(drop_df, "id", "left_anti"), "minhash")

        def semantic():
            keep = dedup.semantic_dedup_keep(state["s"], "embedding", "id", dim=gen.DIM,
                                             min_cosine=MIN_COSINE)
            state["s"] = self._stage(state["s"].join(keep.filter("keep").select("id"), "id"),
                                     "semantic")

        def fpindex_build():
            state["fp"] = dedup.build_fingerprint_index(
                state["s"].filter(F.col("id") < self.mid), "text", "id",
                os.path.join(self.dir, "fpindex"),
            )

        def fpindex_probe():
            s = state["s"]
            survivors = dedup.dedup_against_index(
                s.filter(F.col("id") >= self.mid), "text", "id", state["fp"], spark
            )
            state["s"] = self._stage(s.filter(F.col("id") < self.mid).unionByName(survivors),
                                     "fpindex_survivors")

        def classify():
            preds = curation.nb_classify(src.filter("label IS NOT NULL"), state["s"], "text",
                                         "id", "label")
            state["s"] = self._stage(state["s"].drop("label").join(preds.select("id", "pred"), "id"),
                                     "classify")

        def write():
            self.out = ls.write_dataset(state["s"], os.path.join(self.dir, "out"))

        def index():
            self.out = create_inverted_index(self.out, spark, "text")

        def fts():
            hits = self.out.full_text_search(spark, " ".join(self.corpus.query), column="text", k=K)
            self.hits = [(r["id"], r["_score"]) for r in hits.select("id", "_score").collect()]

        steps = {
            "quality": quality, "exact": exact, "minhash": minhash, "semantic": semantic,
            "fpindex_build": fpindex_build, "fpindex_probe": fpindex_probe,
            "classify": classify, "write": write, "index": index, "fts": fts,
        }
        for name in STEPS:
            t0 = time.perf_counter()
            try:
                with t.span(f"op.{name}"), t.span(LAYER[name]):
                    steps[name]()
            except Exception as exc:  # a failed step is counted, then stops the pass
                self.failed += 1
                self.problems.append(f"{name} raised {type(exc).__name__}: {exc}")
                self.lat.append((name, time.perf_counter() - t0))
                break
            self.lat.append((name, time.perf_counter() - t0))
            if name == "quality":
                self.kept_after_quality = {r["id"] for r in state["s"].select("id").collect()}
        if not self.failed:
            self.final = {r["id"] for r in state["s"].select("id").collect()}
            self.preds = {r["id"]: r["pred"] for r in state["s"].select("id", "pred").collect()}
        return sum(dt for _, dt in self.lat)

    def dup_recall(self) -> float:
        """Planted duplicate pairs of which at most one member survived."""
        removed = sum(1 for d, o in self.origin.items() if not (d in self.final and o in self.final))
        return removed / len(self.origin)

    def candidate_precision(self) -> float:
        """Minhash candidate pairs whose members share an original."""
        o = self.origin
        true = sum(1 for a, b in self.pairs if o.get(a, a) == o.get(b, b))
        return true / len(self.pairs) if self.pairs else 0.0

    def check(self) -> list[str]:
        if self.failed:
            return []
        c, problems = self.corpus, []
        all_ids = set(c.table.column("id").to_pylist())
        dropped = all_ids - self.kept_after_quality
        if dropped != c.junk:
            problems.append(
                f"quality dropped {len(dropped)} docs, {len(dropped & c.junk)} of the "
                f"{len(c.junk)} planted low-quality ones"
            )
        if self.dup_recall() < DUP_RECALL_FLOOR:
            problems.append(f"dup_recall {self.dup_recall():.3f} < {DUP_RECALL_FLOOR}")
        members: dict[int, list[int]] = {}
        for i in all_ids - c.junk:
            members.setdefault(self.origin.get(i, i), []).append(i)
        lost = sum(1 for ms in members.values() if not any(m in self.final for m in ms))
        if lost > LOST_CEILING * len(members):
            problems.append(f"{lost} of {len(members)} document groups lost every member")
        labels = dict(zip(c.table.column("id").to_pylist(), c.labels.tolist()))
        right = sum(1 for i, p in self.preds.items() if p == f"l{labels[i]}")
        if right < ACCURACY_FLOOR * len(self.preds):
            problems.append(f"classifier accuracy {right / len(self.preds):.3f} < {ACCURACY_FLOOR}")
        if self.out is not None and self.out.count_rows(self.spark) != len(self.final):
            problems.append("curated dataset row count differs from the pipeline's survivors")
        terms = self.corpus.query
        flat = bm25_search(self.out.to_df(self.spark), "text", "id", terms, k=K).collect()
        ok = same_topk(terms, self.hits, [(r["id"], r["_score"]) for r in flat])
        if ok is not True:
            problems.append(ok)
        return problems


def same_topk(terms, got, want) -> bool | str:
    """Indexed and flat BM25 must agree: the same scores, and the same ids
    wherever the k-th score does not tie."""
    gs, ws = sorted((s for _, s in got), reverse=True), sorted((s for _, s in want), reverse=True)
    if len(gs) != len(ws) or any(abs(a - b) > 1e-3 for a, b in zip(gs, ws)):
        return f"fts {terms}: scores {gs} != flat {ws}"
    if ws:
        cut = ws[-1] + 1e-3
        gi = {i for i, s in got if s > cut}
        wi = {i for i, s in want if s > cut}
        if gi != wi:
            return f"fts {terms}: ids {sorted(gi)} != flat {sorted(wi)}"
    return True


def run(ctx: Ctx, traced_tracer=None) -> Result:
    """Write the source SETUPS times, then time one pass of the pipeline.
    With ``traced_tracer`` the writes and the pass run traced, and
    per-layer metrics come from the pass.

    The timed pass is the process's first: a batch pipeline is submitted
    as a fresh job, so its users pay Spark's codegen and JIT warm-up on
    every run, and the benchmark measures what they see."""
    from spans import NullTracer

    null = NullTracer()
    setup_tracer = traced_tracer or null
    corpus = gen.corpus(ctx.seed, N_DOCS)

    srcs, setup_s = [], []
    for k in range(SETUPS):
        uri = os.path.join(ctx.work, f"src{k}")
        t0 = time.perf_counter()
        with setup_tracer.span("setup"), setup_tracer.span("write.create"):
            ls.write_dataset(corpus.table, uri)
        setup_s.append(time.perf_counter() - t0)
        srcs.append(uri)

    def one_pass(tracer, src: str, name: str) -> Pipeline:
        pipe = Pipeline(ctx, tracer, src, corpus, os.path.join(ctx.work, name))
        with phase(name):
            pipe.run()
            pipe.problems.extend(pipe.check())
        return pipe

    if traced_tracer is None:
        pipe = one_pass(null, srcs[-1], "pass")
        steps = [dt for _, dt in pipe.lat]
        metrics = {
            "setup_s": median(setup_s),
            "throughput_per_s": N_DOCS / sum(steps),
            "op_p50_ms": median(steps) * 1e3,
            "recall": pipe.dup_recall(),
            "bytes_per_row": tree_bytes(os.path.join(pipe.dir, "out")) / max(len(pipe.final), 1),
        }
        return Result(metrics, len(pipe.lat), pipe.failed, pipe.problems, detail={
            "setup_s": setup_s,
            "dedup_s": sum(dt for n, dt in pipe.lat if n in DEDUP_STEPS),
            "steps_ms": [(n, round(dt * 1e3, 1)) for n, dt in pipe.lat],
        })

    cache0, cost0 = Session().stats(), traced_tracer.cost_s
    traced_tracer.install()
    try:
        with traced_tracer.span("pass"):
            tp = one_pass(traced_tracer, srcs[-1], "pass")
    finally:
        traced_tracer.uninstall()
    busy = sum(dt for _, dt in tp.lat)
    return Result({}, len(tp.lat), tp.failed, tp.problems, layers={
        "tracing.overhead_pct": (traced_tracer.cost_s - cost0) / busy * 100,
        "manifest.cache_hit_rate": cache_hit_rate(cache0, Session().stats()),
        "operators.dedup.candidate_precision": tp.candidate_precision(),
    })
