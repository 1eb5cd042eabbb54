"""K-nearest-neighbor search over embedding columns.

Brute-force exact top-k (the reference's flat KNN: KNNVectorDistanceExec,
rust/lance/src/io/exec/knn.rs:110 + SortExec::with_fetch top-k,
scanner.rs:3450-3467) as a DataFrame plan:
  distance expression → orderBy(distance).limit(k) — Catalyst executes this
  as TakeOrderedAndProject: each partition keeps only its local top-k, the
  driver merges k·partitions rows. No full sort, no full shuffle; scales
  linearly in rows.

Scoring is JVM expression arithmetic (functions/vector.py zip_with /
aggregate): whole-stage codegen, exact-SQL-equivalent, the form the
oracle-checked queries pin. IVF/HNSW index build and search live in
indexes/vector.py and indexes/hnsw.py, whose numpy scoring kernel follows
the same NULL rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lance_spark.functions.vector import (
    cosine_sim,
    distance_expr,
    dot_product,
)


def knn_batch(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    query_vec_col: str | None = None,
    k: int = 10,
    metric: str = "cosine",
) -> DataFrame:
    """Batch KNN: top-k corpus neighbors for EVERY query row
    (KNNVectorDistanceExec scores whole query batches, knn.rs:110).

    Plan: broadcast the query set (queries are small by definition), score
    the cross product with JVM expression arithmetic, keep per-query top-k
    with a window — one pass over the corpus regardless of query count.
    Returns (query_id, id, _distance)."""
    _check_metric(metric)
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    queries = queries.filter(F.col(query_vec_col or vec_col).isNotNull())
    from pyspark.sql import Window

    qv = query_vec_col or vec_col
    # reserved __kb_* internals: the raw corpus may already carry a
    # query_id/qv column (reused pipeline outputs) and an un-projected
    # crossJoin would make the final select ambiguous (r12 review fix).
    # The query vector keeps its RAW type into distance_expr — the old
    # double-cast corrupted 64-bit hamming codes above 2^53.
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__kb_qid"), F.col(qv).alias("__kb_qv")
        )
    )
    dist = distance_expr(F.col("__kb_v"), F.col("__kb_qv"), metric)
    scored = (
        corpus.select(F.col(id_col).alias("__kb_id"), F.col(vec_col).alias("__kb_v"))
        .crossJoin(q)
        .select(
            F.col("__kb_qid").alias("query_id"),
            F.col("__kb_id").alias("id"),
            dist.alias("_distance"),
        )
    )
    # pre-reduce per (query, scan partition): with few queries and a big
    # corpus the global per-query window would sort the WHOLE corpus in
    # one task; the local top-k bounds the final window to k·partitions
    # rows per query. NULLS LAST: a zero-norm/mismatched vector's NULL
    # distance must never outrank real neighbors (asc is NULLS FIRST).
    order = [F.asc_nulls_last("_distance"), F.asc("id")]
    pre = scored.withColumn("__p", F.spark_partition_id())
    w1 = Window.partitionBy("query_id", "__p").orderBy(*order)
    reduced = (
        pre.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__p")
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        reduced.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


_METRICS = ("l2", "cosine", "dot", "hamming")


def _check_metric(metric: str) -> None:
    if metric not in _METRICS:
        # a typo'd metric silently fell through to cosine — plausible but
        # wrong-metric rankings with no error
        raise ValueError(f"metric must be one of {_METRICS}, got {metric!r}")


def multivector_maxsim(
    df: DataFrame,
    mv_col: str,
    id_col: str,
    query_vectors: list[list[float]],
    k: int = 10,
) -> DataFrame:
    """Multivector (ColBERT-style) maxsim scoring — MultivectorScoringExec
    (rust/lance/src/io/exec/knn.rs:1133; plan scanner.rs:3471-3552):

        score(doc) = Σ_q  max_{v ∈ doc.vectors}  cos(q, v)

    over ``array<array<float>>`` document vectors. Pure higher-order-function
    arithmetic: the query set is a literal array (broadcast-in-expression),
    each doc row computes its own max per query vector — no explode, no
    shuffle until the final top-k."""
    import math

    if not query_vectors:
        raise ValueError("multivector_maxsim needs at least one query vector")
    df = df.filter(F.col(mv_col).isNotNull())
    doc_expr = F.col(mv_col).cast("array<array<double>>")

    # doc-vector norms MATERIALIZED once per row via withColumn — reusing
    # the Python Column object only copies the expression tree into every
    # per-query zip_with, and Spark's subexpression elimination skips
    # lambda-bearing expressions, so Q query vectors would recompute all
    # doc norms Q times per row (r12 review fix)
    df = df.select(F.col(id_col), doc_expr.alias("__doc")).withColumn(
        "__norms",
        F.transform(
            F.col("__doc"),
            lambda v: F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)),
        ),
    )
    doc = F.col("__doc")
    per_query = []
    for q in query_vectors:
        qc = F.array(*[F.lit(float(x)) for x in q])
        qn = math.sqrt(sum(float(x) * float(x) for x in q)) or 1.0
        sims = F.zip_with(
            doc,
            F.col("__norms"),
            # try_divide: a zero-norm doc vector is NULL (skipped by
            # array_max), not an ANSI DIVIDE_BY_ZERO for the whole query
            lambda v, n: F.try_divide(dot_product(qc, v), n * F.lit(qn)),
        )
        per_query.append(F.array_max(sims))
    score = per_query[0]
    for s in per_query[1:]:
        score = score + s
    return (
        df.select(F.col(id_col), F.round(score, 4).alias("_maxsim"))
        .orderBy(F.desc_nulls_last("_maxsim"), F.asc(id_col))
        .limit(k)
    )


def multivector_maxsim_join(
    corpus: DataFrame,
    mv_col: str,
    id_col: str,
    queries: DataFrame,
    query_mv_col: str,
    query_id_col: str,
    k: int = 10,
) -> DataFrame:
    """Bulk FLAT multivector maxsim: exact per-query maxsim over a
    multivector corpus for EVERY row of a multivector-query table —
    the knn_batch analogue of ``multivector_maxsim`` (and the flat-tail /
    no-index fallback of the indexed ``ann_maxsim_join``). Returns
    ``(query_id, id, _distance)`` with ``_distance = |Q_q| − Σ_i max_v
    cos(q_i, v)`` — the same scale as the indexed path, unrounded.

    Plan: the query table is broadcast exploded to its vectors (queries
    are small by definition — a large query set belongs on the indexed
    path); doc vectors explode once and score the cross product with JVM
    arithmetic; two groupBys fold max-per-query-vector then
    sum-per-query. Exact: every (doc, query-vector) pair is scored, no
    imputation. One corpus pass regardless of query count."""
    from pyspark.sql import Window

    corpus = corpus.filter(F.col(mv_col).isNotNull())
    # null ELEMENTS inside a multivector must not score: a null dv would
    # null the whole (sim → max → sum) chain and NULLS-FIRST-rank that doc
    # ahead of every real hit (the hazard knn_bruteforce guards for single
    # vectors); a null query element must not inflate |Q| either, or the
    # flat score scale diverges from the indexed ann_maxsim_join (which
    # explodes non-null sub-queries only)
    dv = corpus.select(
        F.col(id_col).alias("id"),
        F.explode(F.col(mv_col).cast("array<array<double>>")).alias("dv"),
    ).filter(F.col("dv").isNotNull())
    qs = queries.filter(F.col(query_mv_col).isNotNull())
    qx = F.broadcast(
        qs.select(
            F.col(query_id_col).alias("query_id"),
            F.posexplode(F.col(query_mv_col).cast("array<array<double>>")).alias(
                "__qpos", "qv"
            ),
        ).filter(F.col("qv").isNotNull())
    )
    nq = F.broadcast(
        qs.select(
            F.col(query_id_col).alias("query_id"),
            F.size(F.filter(F.col(query_mv_col), lambda x: x.isNotNull()))
            .cast("double")
            .alias("__nq"),
        )
    )
    best = (
        dv.crossJoin(qx)
        .select(
            "query_id", "__qpos", "id", cosine_sim(F.col("dv"), F.col("qv")).alias("sim")
        )
        .groupBy("query_id", "__qpos", "id")
        .agg(F.max("sim").alias("sim"))
    )
    scored = (
        best.groupBy("query_id", "id")
        .agg(F.sum("sim").alias("__s"))
        .join(nq, "query_id")
        .select("query_id", "id", (F.col("__nq") - F.col("__s")).alias("_distance"))
    )
    # NULLS LAST: an all-zero-norm doc's NULL distance (sim→max→sum chain)
    # must never outrank every real hit
    w = Window.partitionBy("query_id").orderBy(
        F.asc_nulls_last("_distance"), F.asc("id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def knn_bruteforce(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k; returns (id_col, _distance) — `_distance` follows the
    reference's meta-column convention (rust/lance-core/src/lib.rs). Ties
    break on id for determinism."""
    _check_metric(metric)
    # null vectors can never be neighbors; without this they'd rank FIRST
    # (asc = NULLS FIRST)
    df = df.filter(F.col(vec_col).isNotNull())
    if metric == "hamming":
        qarr = F.array(*[F.lit(int(x)).cast("long") for x in query])
    else:
        qarr = F.array(*[F.lit(float(x)) for x in query])
    return (
        df.select(F.col(id_col), distance_expr(F.col(vec_col), qarr, metric).alias("_distance"))
        # NULLS LAST: zero-norm (cosine), null-element, or mismatched-
        # length vectors produce NULL distances that must never occupy
        # top-k slots
        .orderBy(F.asc_nulls_last("_distance"), F.asc(id_col))
        .limit(k)
    )
