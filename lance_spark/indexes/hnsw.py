"""IVF_HNSW_FLAT: per-IVF-partition HNSW graphs (batch build + search).

Reference semantics (WHAT, not HOW):
  - HNSW graph build: level-sampled multi-layer proximity graph, greedy
    descent from the top layer, ef_construction-bounded neighbor search,
    M / M0 degree caps (rust/lance-index/src/vector/hnsw/builder.rs:1-928).
  - IVF_HNSW_* index family: one sub-index per IVF partition
    (rust/lance-index/src/lib.rs:120-130 IndexType::IvfHnswFlat;
    exercised by python/python/tests/test_vector_index.py).

Spark-first HOW: the graph for each IVF partition is built in ONE
``applyInPandas`` task grouped by ``partition_id`` — partition sizes are
bounded by IVF fan-out (n/num_partitions), so each graph fits task memory,
exactly the reference's per-partition sub-index contract. Graphs serialize
as plain parquet rows {id, vec, level, nbrs array<array<long>>} under
``<uri>/hnsw/partition_id=N/`` — readable by any Spark job, prunable by the
same partition_id directory scheme the codes use. Search probes nprobes
partitions; each probed graph is traversed in its own task (one
applyInPandas group), emits its ef_search best (exact distances — FLAT
stores raw vectors), and a global top-k merges the per-partition results.

Determinism: node levels derive from a hash of the node id (not an RNG
stream), insertion order is sorted by id, and all heaps tie-break on id —
two builds of the same partition produce byte-identical graphs.

Exhaustive escape hatch: when ``ef >= partition size`` the layer search
appends any nodes a disconnected graph component would hide, making the
full-probe / full-ef configuration exactly brute-force — that is the config
the DuckDB oracle gate runs, so hash-equality is guaranteed rather than
probabilistic, while smaller ef exercises the real traversal.
"""

from __future__ import annotations

import heapq
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lance_spark.io import read_table, write_table
from lance_spark.indexes.vector import (
    _MAX_REFINE_CANDIDATES,
    _adc_table,
    _exact_refine_local,
    _finalize_distance,
    _gated_broadcast,
    _normalize,
    _prep,
    _query_prep,
    _score,
    probe_partitions,
)

HNSW_M = 16  # max degree, upper layers
HNSW_M0 = 32  # max degree, layer 0
HNSW_EF_CONSTRUCTION = 100


def _node_level(node_id: int, m: int) -> int:
    """Deterministic level draw: uniform from the node id's 64-bit hash →
    geometric with p = 1/ln(m) (the standard HNSW distribution, seeded by
    identity so rebuilds are reproducible)."""
    # splitmix64 of the id → uniform in (0, 1)
    z = (node_id + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    z = z ^ (z >> 31)
    u = (z + 1) / 2**64
    return int(-math.log(u) / math.log(m))


def _search_layer(
    dfun, n_nodes: int, nbrs, entry: int, ef: int, level: int,
    exhaustive: bool = False, emit_ok=None, batch_dfun=None,
):
    """Standard HNSW ef-bounded best-first layer search → [(dist, idx)]
    sorted ascending. ``dfun(i)`` scores node i against the query — raw
    squared-L2 for FLAT, an ADC lookup for the PQ variant; it must be
    NaN-free (search maps undefined scores to +inf). Ties break on
    index for determinism. ``exhaustive`` (query-time only — construction
    must stay layer-respecting) sweeps up nodes a disconnected component
    would hide when ef covers the whole partition.

    ``emit_ok`` (bool array) implements FILTERED search: disallowed nodes
    stay routing waypoints (traversed, scored, expanded) but never occupy
    an ef result slot — otherwise a selective prefilter would crowd the ef
    best with rows that are filtered out afterwards and return fewer than
    k allowed results. ``batch_dfun(idx_array)`` vectorizes the exhaustive
    sweep (one numpy pass instead of n Python calls)."""

    def emits(i: int) -> bool:
        return emit_ok is None or bool(emit_ok[i])

    d0 = dfun(entry)
    visited = {entry}
    cand = [(d0, entry)]  # min-heap by (dist, idx) — ALL nodes route
    best = [(-d0, entry)] if emits(entry) else []  # ef best EMITTED nodes
    while cand:
        d, c = heapq.heappop(cand)
        if best and d > -best[0][0] and len(best) >= ef:
            break
        for n in nbrs[c][level] if level < len(nbrs[c]) else ():
            if n in visited:
                continue
            visited.add(n)
            dn = dfun(n)
            if len(best) < ef or dn < -best[0][0]:
                heapq.heappush(cand, (dn, n))
                if emits(n):
                    heapq.heappush(best, (-dn, n))
                    if len(best) > ef:
                        heapq.heappop(best)
    out = sorted((-nd, i) for nd, i in best)
    if exhaustive and ef >= n_nodes and len(visited) < n_nodes:
        # exhaustive-ef escape hatch: a disconnected component cannot hide
        # nodes when the caller asked for the whole partition
        rest = np.array(
            [i for i in range(n_nodes) if i not in visited and emits(i)],
            dtype=np.int64,
        )
        if rest.size:
            if batch_dfun is not None:
                ds = batch_dfun(rest)
                out = sorted(out + list(zip((float(x) for x in ds), (int(i) for i in rest))))
            else:
                out = sorted(out + [(dfun(int(i)), int(i)) for i in rest])
    return out


def _greedy_descent(dfun, nbrs, cur: int, from_lvl: int, to_lvl: int) -> int:
    """Hop to the closest neighbor until a local minimum, one layer at a
    time (the upper-layer zoom-in both build and search use)."""
    for lc in range(from_lvl, to_lvl, -1):
        improved = True
        dcur = dfun(cur)
        while improved:
            improved = False
            for nb in nbrs[cur][lc] if lc < len(nbrs[cur]) else ():
                dn = dfun(nb)
                if dn < dcur:
                    cur, dcur, improved = nb, dn, True
    return cur


def _select_neighbors_heuristic(
    cand_sorted: list, cap: int, vecs: np.ndarray
) -> list[int]:
    """SELECT-NEIGHBORS-HEURISTIC (HNSW paper Alg. 4; the reference's
    select_neighbors in rust/lance-index/src/vector/hnsw/builder.rs):
    keep candidate e only if it is closer to the base point than to every
    already-kept neighbor — this preserves edges that cross cluster gaps
    instead of filling every slot with one tight cluster, which is what
    keeps the graph connected on clustered embedding spaces. Pruned
    candidates backfill remaining slots (keepPrunedConnections)."""
    chosen: list[tuple[float, int]] = []
    pruned: list[int] = []
    for d, e in cand_sorted:
        if len(chosen) >= cap:
            break
        kept = [c for _, c in chosen]
        if kept and (_score(vecs[kept], vecs[e], "l2") < d).any():
            pruned.append(e)
        else:
            chosen.append((d, e))
    out = [e for _, e in chosen]
    for e in pruned:
        if len(out) >= cap:
            break
        out.append(e)
    return out


def _build_graph(vecs: np.ndarray, m: int = HNSW_M, ef_c: int = HNSW_EF_CONSTRUCTION):
    """Insert-all HNSW build (builder.rs HNSWBuilder::insert). Returns
    (levels, nbrs) where nbrs[i][l] is node i's neighbor list at layer l."""
    n = len(vecs)
    levels = [_node_level(i, m) for i in range(n)]
    nbrs = [[[] for _ in range(levels[i] + 1)] for i in range(n)]
    entry, max_lvl = 0, levels[0]
    for i in range(1, n):
        lvl = levels[i]
        # distances to every node inserted so far, in one vectorized pass
        dfun = _score(vecs[:i], vecs[i], "l2").item
        cur = _greedy_descent(dfun, nbrs, entry, max_lvl, lvl)
        for lc in range(min(lvl, max_lvl), -1, -1):
            cap = HNSW_M0 if lc == 0 else m
            found = _search_layer(dfun, n, nbrs, cur, ef_c, lc)
            chosen = _select_neighbors_heuristic(found, cap, vecs)
            nbrs[i][lc] = list(chosen)
            for c in chosen:
                lst = nbrs[c][lc]
                lst.append(i)
                if len(lst) > cap:
                    # re-select with the same diversity heuristic, with
                    # distances taken to the node being pruned
                    ds = sorted(zip(_score(vecs[lst], vecs[c], "l2").tolist(), lst))
                    nbrs[c][lc] = _select_neighbors_heuristic(ds, cap, vecs)
            cur = found[0][1]
        if lvl > max_lvl:
            entry, max_lvl = i, lvl
    return levels, nbrs


def build_hnsw_graphs(
    index, spark: SparkSession, codes_dir: str | None = None, out_dir: str | None = None
) -> None:
    """Build one HNSW graph per IVF partition of an existing IVF index dir
    (codes already written). One applyInPandas task per partition.

    ``codes_dir``/``out_dir`` default to the base segment; delta optimize
    passes a ``codes_v<N>`` segment and its sibling ``hnsw_v<N>`` so only
    NEW vectors get graphs (each segment's graph is self-contained —
    search traverses per (segment, partition) and merges candidates).

    Graph construction always measures raw-vector distances (builder.rs does
    the same — codes are a storage format, not a build metric); the PQ
    variant then stores pq_code instead of the raw vector in the graph rows,
    so the query-time graph table is code-sized."""
    cosine = index.metric == "cosine"
    pq = index.index_type in ("IVF_HNSW_PQ", "IVF_HNSW_SQ")  # code-sized rows
    codes = read_table(spark, codes_dir or os.path.join(index.uri, "codes"))

    def build_one(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["partition_id"].iloc[0])
        pdf = pdf.sort_values("id").reset_index(drop=True)
        vecs = np.asarray(pdf["vec"].tolist(), dtype=np.float32)
        if cosine:
            vecs = _normalize(vecs)
        levels, nbrs = _build_graph(vecs)
        ids = pdf["id"].to_numpy()
        out = {
            "partition_id": pid,
            "id": ids,
            "level": levels,
            "nbrs": [
                [[int(ids[x]) for x in layer] for layer in nbrs[i]]
                for i in range(len(ids))
            ],
        }
        if pq:
            out["pq_code"] = list(pdf["pq_code"])
        else:
            out["vec"] = list(vecs.astype(np.float32))
        return pd.DataFrame(out)

    payload = "pq_code array<smallint>" if pq else "vec array<float>"
    out_schema = (
        f"partition_id int, id long, {payload}, level int, nbrs array<array<long>>"
    )
    cols = ["partition_id", "id", "pq_code" if pq else "vec"] + (["vec"] if pq else [])
    write_table(
        codes.select(*cols).groupBy("partition_id").applyInPandas(build_one, out_schema),
        out_dir or os.path.join(index.uri, "hnsw"),
        partition_by="partition_id",
    )


def hnsw_search(
    spark: SparkSession,
    index,
    query: list[float],
    k: int = 10,
    nprobes: int = 4,
    ef_search: int = 64,
    prefilter_rowids: DataFrame | None = None,
    refine_factor: int = 1,
    tail_mask=None,
) -> DataFrame:
    """Probe nprobes partitions; traverse each probed HNSW graph in its own
    task; merge per-partition candidates into a global top-k. With delta
    segments, each (segment, partition) graph is traversed independently
    and candidates merge — the reference searches delta indices the same
    way. Rows ``tail_mask`` marks (see ``vector._drop_tail``) are never
    emitted but, like prefiltered-out nodes, stay routing waypoints.

    FLAT scores raw vectors during traversal (exact distances, no refine
    needed); the PQ variant scores an ADC lookup over the stored codes and
    exact-refines the bounded k·refine_factor candidate set. With a
    prefilter, traversal still walks the full graph (filtered-out nodes
    remain routing waypoints — the reference's prefilter keeps graph
    connectivity too) and only the emitted candidates are filtered."""
    pq = index.index_type == "IVF_HNSW_PQ"
    sq = index.index_type == "IVF_HNSW_SQ"
    # q stays float64: the exact refine and the FLAT scorer must match the
    # widen-then-compute oracle (IVF paths pass full-precision q too); a
    # float32 truncation here mis-ranks near-ties at the k boundary
    q = _query_prep(index, query)
    probes = probe_partitions(index, query, nprobes)
    segs = None
    for i, p in enumerate(index.hnsw_paths()):
        g = read_table(spark, p).withColumn("__seg", F.lit(i))
        segs = g if segs is None else segs.unionByName(g)
    graph = segs.filter(F.col("partition_id").isin(probes))
    metric = index.metric
    cosine = metric == "cosine"
    qb = spark.sparkContext.broadcast(q)
    n_cand = min(k * max(refine_factor, 1), _MAX_REFINE_CANDIDATES)
    # PQ/SQ refine draws from the ef-bounded emission: ef must cover the
    # requested refine width or refine_factor is silently neutered
    ef = max(ef_search, k, n_cand if (pq or sq) else 0)

    # filtered-search annotation: allowed/excluded is decided BEFORE the
    # traversal so disallowed nodes stay waypoints but never crowd the ef
    # result slots (post-filtering could return < k allowed rows)
    ok_col = None
    if tail_mask is not None:
        graph = tail_mask(graph).withColumn(
            "__ok_excl", F.col("fragment_id").isNull()
        ).drop("fragment_id")
        ok_col = F.col("__ok_excl")
    if prefilter_rowids is not None:
        allow = prefilter_rowids.toDF("id").withColumn("__allow", F.lit(True))
        graph = graph.join(_gated_broadcast(allow), "id", "left")
        ok_col = (
            F.coalesce(F.col("__allow"), F.lit(False))
            if ok_col is None
            else ok_col & F.coalesce(F.col("__allow"), F.lit(False))
        )
    filtered = ok_col is not None
    graph = graph.withColumn("__ok", ok_col if filtered else F.lit(True))

    def search_one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        ids = pdf["id"].to_numpy()
        emit_ok = pdf["__ok"].to_numpy() if filtered else None
        id_to_idx = {int(v): i for i, v in enumerate(ids)}
        nbrs = [
            [[id_to_idx[int(x)] for x in layer] for layer in node]
            for node in pdf["nbrs"]
        ]
        levels = pdf["level"].to_numpy()
        entry = int(np.lexsort((ids, -levels))[0])  # max level, min id
        # every node's distance to the query in one vectorized pass; the
        # traversal then only looks scores up
        if pq:
            tbl = adc_b.value[int(pdf["partition_id"].iloc[0])]
            codes_arr = np.asarray(pdf["pq_code"].tolist(), dtype=np.int64)
            d = tbl[np.arange(tbl.shape[0])[None, :], codes_arr].sum(axis=1)
        elif sq:
            lo, span = sq_b.value
            deq = lo + _prep(pdf["pq_code"]) / 255.0 * span
            # cosine renormalizes: drops the quantization norm error
            d = _score(_prep(deq, cosine=cosine), qb.value, metric)
        else:
            # stored vectors are already normalized; float64 accumulation
            # because FLAT distances are FINAL (no refine)
            d = _score(_prep(pdf["vec"]), qb.value, metric)
        # an undefined (NaN) score routes as +inf and is emitted as NULL
        routed = np.where(np.isnan(d), np.inf, d)
        cur = _greedy_descent(routed.item, nbrs, entry, int(levels[entry]), 0)
        found = _search_layer(
            routed.item, len(ids), nbrs, cur, ef, 0, exhaustive=True,
            emit_ok=emit_ok, batch_dfun=routed.__getitem__,
        )
        top = [i for _, i in found[:ef]]
        return pd.DataFrame({"id": ids[top].astype(np.int64), "_distance": d[top]})

    adc_b = sq_b = None
    if sq:
        sqb = index.sq_bounds
        sq_b = spark.sparkContext.broadcast(
            (sqb[0].astype(np.float64), sqb[1].astype(np.float64))
        )
    if pq:
        adc = {
            pid: _adc_table(index.codebooks, index.centroids[pid], q, metric)
            for pid in probes
        }
        adc_b = spark.sparkContext.broadcast(adc)

    cands = graph.groupBy("__seg", "partition_id").applyInPandas(
        search_one, "id long, _distance double"
    ).orderBy(F.asc_nulls_last("_distance"), "id")
    if pq or sq:
        # quantized distances are approximate: exact-refine the bounded set
        # (n_cand already capped at _MAX_REFINE_CANDIDATES — the suite's
        # k=100k × refine=100 gate would otherwise collect 10M rows)
        top = cands.limit(n_cand).collect()
        return _exact_refine_local(spark, index, probes, [r["id"] for r in top], q, k)
    return _finalize_distance(cands.limit(k), metric)
