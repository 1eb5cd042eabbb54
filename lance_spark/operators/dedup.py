"""Deduplication operators for training-data pipelines.

Four families, all shuffle-architected for 100 TB:
  - exact: hash-groupBy on a content fingerprint — one shuffle on a short
    hash key, map-side partial agg.
  - MinHash + LSH: shingle → portable 60-bit hash → k permutations → band
    buckets → candidate pairs via an equi-join on (band, band-key). The
    only O(n²) step is within a bucket, which banding keeps tiny. This is
    the standard web-scale near-dup pipeline.
  - SimHash: per-token hash bit-votes folded into a compact signature;
    near-dups = signatures within hamming radius, bucketed by signature
    bytes (each band column is an equi-join key).
  - Embedding cosine: exact threshold join (small n) — the IVF route in
    operators/knn.py is the scale path.

Every operator is pure built-in-function DataFrame code (no Python UDFs),
so the exact same math is expressible in ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

import os

import pandas as pd  # noqa: F401 — pandas_udf type hints resolve via module
# globals (``from __future__ import annotations`` stringifies them)

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lance_spark.functions.text import hash64, tokenize, fingerprint

# shared LSH constants — keep in sync with suite.py oracles
MINHASH_PERMS = 16
MINHASH_BANDS = 4  # 4 rows per band
MERSENNE31 = 2147483647

# Hot-bucket guard ceiling. LSH's contract is that banding keeps buckets
# tiny; a degenerate corpus (near-constant text, all-zero embeddings) breaks
# that contract and a single collect_list bucket becomes an executor OOM.
# Buckets above the cap are SKIPPED — their members are pathological
# near-identical mass-duplicates better handled by exact_dedup first; pairs
# within every retained bucket are unaffected.
DEFAULT_MAX_BUCKET = 10_000


def _bucketed(banded: DataFrame, payload: list[str], max_bucket_size: int | None) -> DataFrame:
    """(band_id, band_key, ms=collect_list(struct(payload))) with the
    hot-bucket guard applied BEFORE collection.

    The size gate is a count() window over the same keys the repartition
    hashed on — no extra shuffle, and oversized buckets' rows never reach
    the collect_list, so the guard actually bounds task memory (a post-hoc
    size filter would OOM inside the aggregation it was guarding)."""
    out = banded.repartition(
        _default_parallelism(banded.sparkSession), "band_id", "band_key"
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("band_id", "band_key")
        out = (
            out.withColumn("__bucket_n", F.count("*").over(w))
            .filter(F.col("__bucket_n") <= max_bucket_size)
            .drop("__bucket_n")
        )
    return (
        out.groupBy("band_id", "band_key")
        .agg(F.collect_list(F.struct(*payload)).alias("ms"))
        .filter(F.size("ms") > 1)
    )


def _lex_pairs(ids, hamming_expr, n: int):
    """First ``n`` (id_a, id_b) pairs, in lexicographic order, from an
    already-sorted id array — generated WITHOUT materializing the full
    C(k,2) expansion beyond the first n+ slots per anchor. All pairs carry
    the same distance (``hamming_expr``), e.g. 0 for an identical-signature
    group."""
    return F.slice(
        F.flatten(
            F.transform(
                F.slice(ids, 1, n + 1),  # an anchor past n+1 can't reach top-n
                lambda x, i: F.transform(
                    F.slice(ids, i + 2, n),
                    lambda y: F.struct(
                        hamming_expr.alias("hamming"),
                        x.alias("id_a"),
                        y.alias("id_b"),
                    ),
                ),
            )
        ),
        1,
        n,
    )


def _cross_pairs(ids_a, ids_b, hamming_expr, n: int):
    """Top-``n`` (by (id_a, id_b)) cross pairs between two sorted id lists
    (each already sliced to its n+2 smallest). Bounded: sorts at most
    (n+2)^2 structs, only for group pairs that already passed the distance
    filter."""
    return F.slice(
        F.array_sort(
            F.flatten(
                F.transform(
                    ids_a,
                    lambda a: F.transform(
                        ids_b,
                        lambda b: F.struct(
                            hamming_expr.alias("hamming"),
                            F.least(a, b).alias("id_a"),
                            F.greatest(a, b).alias("id_b"),
                        ),
                    ),
                )
            )
        ),
        1,
        n,
    )


def oversized_lsh_buckets(banded: DataFrame, max_bucket_size: int = DEFAULT_MAX_BUCKET) -> DataFrame:
    """Observability companion to the guard: (band_id, band_key, n) of the
    buckets the pair expansion would skip — run it when a dedup pass returns
    suspiciously few pairs on a corpus that may be degenerate."""
    return (
        banded.groupBy("band_id", "band_key")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > max_bucket_size)
    )


#: memo for _fan_out's partition probe, keyed by the analyzed plan's
#: semantic hash. ``df.rdd`` triggers a full plan→RDD conversion on the
#: driver (~10s of ms); short interactive dedup calls re-probe the same
#: source DataFrame every time, so the memo removes the repeated cost.
_NPART_CACHE: dict[int, int] = {}


def _probe_partitions(df: DataFrame) -> int:
    try:
        key = df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # non-classic DataFrame (connect) — probe directly
        key = None
    if key is not None and key in _NPART_CACHE:
        return _NPART_CACHE[key]
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # Spark Connect: no RDD access — assume well-partitioned
        return 1 << 30
    if key is not None:
        if len(_NPART_CACHE) >= 256:
            _NPART_CACHE.clear()
        _NPART_CACHE[key] = n
    return n


def _default_parallelism(spark) -> int:
    """Cluster parallelism, Connect-tolerant: sparkContext is unsupported
    on Spark Connect sessions — fall back to the shuffle-partition conf."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        try:
            return int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            return 200


def _fan_out(df: DataFrame, min_tasks: int | None = None) -> DataFrame:
    """Signature computation is CPU-bound (one md5 per token/shingle), so an
    under-partitioned source (e.g. a single-row-group parquet file) would
    serialize it on one core. Repartition ONLY when the scan yields fewer
    splits than cores — on production multi-fragment layouts this is a
    no-op, so no added shuffle at scale. (A full fan-out to cluster
    parallelism whenever splits < cores was built for the FTS postings
    build and measured WORSE: python-worker startup outweighs the extra
    cores once the input has a handful of splits.)"""
    if df.isStreaming:  # no static partition count; micro-batches are sized upstream
        return df
    spark = df.sparkSession
    target = min_tasks or _default_parallelism(spark)
    if _probe_partitions(df) < min(4, target):
        # ROUND-ROBIN, not rand(): hash-partitioning on a non-deterministic
        # key silently duplicates/loses rows when a shuffle-map task is
        # recomputed after executor loss (the SPARK-23207 failure class —
        # round-robin gets the sort-before-repartition determinism fix,
        # rand() does not). The lost pushdown barrier only meant token-size
        # guards could evaluate pre-exchange — a perf nuance, not
        # correctness.
        return df.repartition(target)
    return df


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per canonical-content fingerprint.

    Single pass: one shuffle on the fingerprint with min_by picking the
    winner row (map-side partial agg), instead of a groupBy + semi-join
    that executes the fingerprint scan twice."""
    cols = df.columns
    return (
        df.groupBy(fingerprint(F.col(text_col)).alias("__fp"))
        .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("__row"))
        .select(*[F.col(f"__row.{c}").alias(c) for c in cols])
    )


def shingles_from_tokens(toks, k: int = 3):
    """k-word shingles from an already-materialized token array column.

    Callers MUST bind the token array to a real column first (one
    ``.select(tokenize(...).alias(...))``): inlining ``tokenize(text)`` here
    would re-evaluate the full split/filter once per element_at — measured
    12s → 1s on the sf0.1 minhash signature stage."""
    # docs with fewer than k tokens yield NO shingles — F.sequence(0, size-k)
    # would otherwise generate a DESCENDING sequence and element_at(toks, 0)
    # aborts the whole job (measured: one 2-token doc killed the minhash
    # stage in both ANSI and non-ANSI modes); downstream joins already
    # handle sig-less docs ('docs too short to shingle still carry an
    # exact fp')
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(k)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def minhash_signatures_agg(
    df: DataFrame, text_col: str, id_col: str, num_perm: int = MINHASH_PERMS, shingle_k: int = 3
) -> DataFrame:
    """(id, sig) minhash signatures: num_perm values per doc, permutation j
    being h_j(s) = ((2j+3)·(hash64(s) mod p) + (5j+7)) mod p over the doc's
    k-word shingles, p = 2^31-1 (small coefficients keep every product
    inside int64 on both engines). Each shingle is hashed ONCE, in the
    JVM; the permutation mins are one numpy pass per doc (``_sig_col``).
    Docs with fewer than ``shingle_k`` tokens have no signature."""
    toks = _fan_out(df).select(
        F.col(id_col).alias("id"), tokenize(F.col(text_col)).alias("__toks")
    )
    return toks.select(
        "id", _sig_col(F.col("__toks"), num_perm, shingle_k).alias("sig")
    ).filter(F.col("sig").isNotNull())


def _minhash_mins_udf(num_perm: int):
    """Arrow-batched minhash permutation mins over PRE-HASHED shingle
    values (``array<long>`` of hash64(shingle) % p computed by the JVM's
    codegen'd md5): one numpy broadcast per doc, exact integer math
    (guide §4.2). The hash itself stays in the JVM — the r13 form ran
    hashlib.md5 per shingle in a Python loop, and the md5 call overhead
    ate the vectorization win (measured 1.9 s vs 0.8 s for this split at
    sf0.1). Docs whose hash array is empty (< shingle_k tokens) return
    NULL; callers filter them or keep them as sig-less rows.

    NON-DETERMINISTIC ON PURPOSE (guide §4.4): callers filter on the UDF
    output (``sig IS NOT NULL``), and the optimizer pushes that filter
    below the fan-out exchange with a SECOND copy of the whole
    shingle+hash+UDF pipeline — measured as the full signature stage
    running twice, the pre-exchange copy serialized on the scan's 1-2
    input splits. The flag pins one evaluation above the exchange."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def _mins(hs_s: pd.Series) -> pd.Series:
        import numpy as np

        A = np.arange(3, 2 * num_perm + 2, 2, dtype=np.int64).reshape(-1, 1)
        B = np.arange(7, 5 * num_perm + 3, 5, dtype=np.int64).reshape(-1, 1)
        out = []
        for hs in hs_s:
            if hs is None or len(hs) == 0:
                out.append(None)
                continue
            a = np.asarray(hs, dtype=np.int64)
            out.append(((A * a + B) % MERSENNE31).min(axis=1).tolist())
        return pd.Series(out)

    return _mins.asNondeterministic()


def _shingle_hashes(toks_col, shingle_k: int):
    """``array<long>`` of hash64(shingle) % p from a PRE-BOUND token-array
    column — the JVM half of the minhash signature (codegen'd md5, no
    Python boundary). Docs with < shingle_k tokens yield an empty array
    (shingles_from_tokens' contract)."""
    return F.transform(
        shingles_from_tokens(toks_col, shingle_k),
        lambda s: hash64(s) % MERSENNE31,
    )


def _sig_col(toks_col, num_perm: int, shingle_k: int):
    """The minhash signature of a PRE-BOUND token-array column (NULL for
    docs too short to shingle) — the one form both the pair path
    (``minhash_signatures_agg``) and the banded index
    (``_banded_fingerprints``) project, so their signatures are
    byte-identical by construction."""
    return _minhash_mins_udf(num_perm)(_shingle_hashes(toks_col, shingle_k))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = MINHASH_PERMS,
    bands: int = MINHASH_BANDS,
    min_est_jaccard: float = 0.5,
    shingle_k: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    max_pairs: int | None = None,
    summary: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) with estimated jaccard =
    fraction of agreeing minhash positions. Banding makes the join an
    equi-join on (band_id, band_key): fully shuffle-partitioned, no
    cross product; the self-join reuses the signature exchange.

    ``max_pairs``: keep only the N highest-estimated pairs (ties broken on
    (id_a, id_b)). The cap applies INSIDE each bucket before any pair
    leaves the bucket row — a replica-heavy corpus whose true pair count is
    quadratic can't make output cardinality the wall-clock. Exact: a pair
    in the global top-N beats all but <N pairs in its own bucket, so the
    per-bucket top-N slices cover the global top-N.

    ``summary``: return one row (n_pairs, avg_est_jaccard) instead of the
    pairs — the count-only mode for corpora where even enumerating pairs
    is the cost you're probing for."""
    rows_per_band = num_perm // bands
    sigs = minhash_signatures_agg(df, text_col, id_col, num_perm, shingle_k)
    banded = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            ",", *[F.element_at("sig", b * rows_per_band + r + 1) for r in range(rows_per_band)]
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "sig", "band.band_id", "band.band_key")

    # in-bucket pair expansion instead of a self-join: a self-join would
    # re-execute the whole signature pipeline for both sides (no shared
    # exchange), and at scale would shuffle the corpus twice. One groupBy
    # sends each signature to its bucket once; pairs materialize inside the
    # bucket, whose size banding keeps tiny (that's LSH's contract) and the
    # hot-bucket guard enforces against degenerate corpora.
    # explicit repartition pins the reduce parallelism: the bucket stage is
    # compute-heavy but byte-light, so AQE would coalesce it to one task
    def _agree(x_sig, y_sig):
        return F.aggregate(
            F.zip_with(x_sig, y_sig, lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0),
            lambda acc, x: acc + x,
        )

    if max_pairs is None:
        buckets = _bucketed(banded, ["id", "sig"], max_bucket_size)
        pair = F.explode(
            F.flatten(
                F.transform(
                    F.col("ms"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                        lambda y: F.struct(
                            F.least(x["id"], y["id"]).alias("id_a"),
                            F.greatest(x["id"], y["id"]).alias("id_b"),
                            x["sig"].alias("sig_a"),
                            y["sig"].alias("sig_b"),
                        ),
                    ),
                )
            )
        )
        pairs = buckets.select(pair.alias("p")).select("p.*").dropDuplicates(["id_a", "id_b"])
        est = F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        out = (
            pairs.withColumn("est_jaccard", F.round(est / F.lit(num_perm), 4))
            .filter(F.col("est_jaccard") >= min_est_jaccard)
            .select("id_a", "id_b", "est_jaccard")
        )
        if summary:
            return out.agg(
                F.count("*").alias("n_pairs"),
                F.round(F.avg("est_jaccard"), 4).alias("avg_est_jaccard"),
            )
        return out

    # capped mode: collapse identical signatures per bucket first (the
    # replica-clique mass becomes one group row), lex-slice within-group
    # pairs, compare only DISTINCT signatures cross-group — see
    # _simhash_pairs_capped for the exactness argument
    n = max_pairs
    ids_slice = F.slice(F.array_sort(F.collect_list("id")), 1, n + 2)
    groups = banded.repartition(
        banded.sparkSession.sparkContext.defaultParallelism, "band_id", "band_key"
    ).groupBy("band_id", "band_key", "sig").agg(
        ids_slice.alias("ids"), F.count("*").alias("k")
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("band_id", "band_key")
        groups = (
            groups.withColumn("__d", F.count("*").over(w))
            .filter(F.col("__d") <= max_bucket_size)
            .drop("__d")
        )
    # pin the distinct-sig relation: `within` and the cross stage both
    # consume it — without this the full corpus signature pass runs twice
    # (same reason as _simhash_pairs_capped)
    groups = groups.localCheckpoint(eager=True)
    within = groups.filter(F.col("k") >= 2).select(
        F.explode(_lex_pairs(F.col("ids"), F.lit(0), n)).alias("p")
    )
    bsigs = (
        groups.groupBy("band_id", "band_key")
        .agg(F.collect_list(F.struct("sig", "ids")).alias("gs"))
        .filter(F.size("gs") > 1)
    )
    min_agree_round = min_est_jaccard  # filter matches uncapped: round(est,4) >= threshold
    cross_arr = F.flatten(
        F.transform(
            F.col("gs"),
            lambda x, i: F.flatten(
                F.transform(
                    F.filter(
                        F.slice(F.col("gs"), i + 2, F.size(F.col("gs"))),
                        lambda y: F.round(_agree(x["sig"], y["sig"]) / F.lit(num_perm), 4)
                        >= min_agree_round,
                    ),
                    lambda y: _cross_pairs(
                        x["ids"],
                        y["ids"],
                        F.lit(num_perm) - _agree(x["sig"], y["sig"]),
                        n,
                    ),
                )
            ),
        )
    )
    cross = bsigs.select(F.explode(F.slice(F.array_sort(cross_arr), 1, n)).alias("p"))
    # TakeOrdered before dedup — see _simhash_pairs_capped: a pair shows up
    # at most once per band, so top n*bands duplicated ⊇ top n distinct
    out = (
        within.unionByName(cross)
        .select("p.id_a", "p.id_b", F.col("p.hamming").alias("disagree"))
        .orderBy("disagree", "id_a", "id_b")
        .limit(n * bands)
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("disagree", "id_a", "id_b")
        .limit(n)
        .select(
            "id_a",
            "id_b",
            F.round((F.lit(num_perm) - F.col("disagree")) / F.lit(num_perm), 4).alias(
                "est_jaccard"
            ),
        )
    )
    if summary:
        return out.agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg("est_jaccard"), 4).alias("avg_est_jaccard"),
        )
    return out


def simhash(col, bits: int = 32):
    """SimHash signature: bit i set iff the tf-weighted vote of token-hash
    bit i is positive. Pure aggregate arithmetic, no explode."""
    # handled at the DataFrame level in simhash_signatures (needs a groupBy)
    raise NotImplementedError("use simhash_signatures(df, ...)")


def simhash_signatures(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """One row per doc: (id, simhash bigint).

    Fully row-local: per-token hashes fold into a 32-lane vote accumulator
    with ``F.aggregate``/``zip_with`` (bit i of token hash votes ±1), and
    the finish lambda packs votes into the signature — ZERO shuffles, vs
    the explode → groupBy(id) → 32-sums formulation (measured 15s of
    aggregate CPU at sf0.1 against ~1s for this form). tf-weighting falls
    out of summing per token occurrence, identical math either way.

    Docs with no tokens are dropped (parity with what explode() did)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _sig(toks_s: pd.Series) -> pd.Series:
        # Arrow-batched numpy vote fold (guide §4.2): per distinct token one
        # md5, bit votes as one matmul-shaped reduction. Exact integer math
        # — identical signatures to the 32-lane zip_with fold this replaces.
        # The md5 deliberately stays in PYTHON with a per-batch cache,
        # unlike the minhash shingle hash (JVM): token vocabularies are
        # tiny relative to occurrences, so the cache collapses ~410k
        # hashes to ~vocab-size md5 calls at sf0.1, while the JVM's
        # conv(md5) chain pays per OCCURRENCE — measured 1.9 s (JVM form)
        # vs ~1.0 s (this form) for the signature stage (r14 A/B).
        import hashlib

        import numpy as np

        lanes = np.arange(bits, dtype=np.int64)
        pows = np.left_shift(np.int64(1), lanes)
        cache: dict = {}

        def h(s: str) -> int:
            v = cache.get(s)
            if v is None:
                v = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
                cache[s] = v
            return v

        out = []
        for t in toks_s:
            if t is None or len(t) == 0:
                out.append(None)
                continue
            uniq, counts = np.unique(np.asarray(t, dtype=object), return_counts=True)
            hs = np.fromiter((h(s) for s in uniq), dtype=np.int64)
            ones = ((hs[:, None] & pows[None, :]) != 0)
            votes = (counts[:, None] * np.where(ones, 1, -1)).sum(axis=0)
            out.append(int(pows[votes > 0].sum()))
        return pd.Series(out, dtype="object")

    # bind the token array to a real column FIRST: inlining tokenize() in
    # both the size filter and the signature would run the full
    # lower+split+filter pass twice per row (Catalyst does not CSE across
    # the filter/select operators) — the same measured multi-x hazard the
    # shingles_from_tokens docstring records
    return (
        _fan_out(df)
        .select(F.col(id_col).alias("id"), tokenize(F.col(text_col)).alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select("id", _sig(F.col("__toks")).alias("simhash"))
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    max_pairs: int | None = None,
    summary: bool = False,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance ≤ max_hamming, bucketed by
    byte-bands (a pair within radius r < bands must agree on ≥1 band).

    ``max_pairs``: keep only the N hamming-smallest pairs (ties broken on
    (id_a, id_b)), capped per-bucket BEFORE any pair is materialized — see
    minhash_lsh_pairs for why the per-bucket top-N is exact. This is the
    scale valve for replica-heavy corpora whose true pair count is
    quadratic (sf1's clique corpus: 24.4M pairs).

    ``summary``: one row (n_pairs, avg_hamming) instead of the pairs."""
    sigs = simhash_signatures(df, text_col, id_col, bits)
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    banded = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(F.lit(mask)).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "simhash", "band.band_id", "band.band_key")
    # in-bucket pair expansion (see minhash_lsh_pairs): one pass, no
    # self-join re-execution of the signature aggregation
    if max_pairs is not None:
        out = _simhash_pairs_capped(banded, max_hamming, max_bucket_size, max_pairs, bands)
    else:
        buckets = _bucketed(banded, ["id", "simhash"], max_bucket_size)
        # hamming-filter BEFORE struct construction: buckets can hold
        # millions of candidate pairs, but only survivors get
        # materialized/flattened/shuffled
        pair = F.explode(
            F.flatten(
                F.transform(
                    F.col("ms"),
                    lambda x, i: F.transform(
                        F.filter(
                            F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                            lambda y: F.bit_count(x["simhash"].bitwiseXOR(y["simhash"]))
                            <= max_hamming,
                        ),
                        lambda y: F.struct(
                            F.least(x["id"], y["id"]).alias("id_a"),
                            F.greatest(x["id"], y["id"]).alias("id_b"),
                            F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])).alias("hamming"),
                        ),
                    ),
                )
            )
        )
        out = (
            buckets.select(pair.alias("p"))
            .select("p.id_a", "p.id_b", "p.hamming")
            .dropDuplicates(["id_a", "id_b"])
        )
    if summary:
        return out.agg(
            F.count("*").alias("n_pairs"), F.round(F.avg("hamming"), 4).alias("avg_hamming")
        )
    return out


def _simhash_pairs_capped(
    banded: DataFrame, max_hamming: int, max_bucket_size: int | None, n: int, n_bands: int
) -> DataFrame:
    """Exact top-``n`` pairs by (hamming, id_a, id_b), built so a
    replica-heavy corpus's quadratic pair mass never materializes:

    1. Collapse identical signatures per bucket FIRST — a k-replica clique
       becomes ONE group row carrying its n+2 smallest ids (provably
       enough: a pair whose smaller id has >= n+1 smaller groupmates is
       beaten by >= n+1 lex-smaller pairs, so the global top-n only ever
       touches each group's n+2 smallest ids).
    2. Within-group pairs (hamming 0) come from lex-slicing the sorted id
       list — first n pairs, never C(k,2).
    3. Short-circuit: if >= n pairs exist at hamming 0 (exact-signature
       duplicates), the global top-n is entirely within-group — the whole
       cross-group stage is skipped. This is the common shape of the
       replica-heavy corpus capped mode exists for.
    4. Cross-group comparisons (when needed) run on DISTINCT signatures
       only (d^2 per bucket, not m^2), emitting at most n pairs per
       qualifying group pair.
    5. TakeOrdered over the duplicated stream, then dedup — see below.
    """
    ids_slice = F.slice(F.array_sort(F.collect_list("id")), 1, n + 2)
    groups = banded.repartition(
        _default_parallelism(banded.sparkSession), "band_id", "band_key"
    ).groupBy("band_id", "band_key", "simhash").agg(
        ids_slice.alias("ids"), F.count("*").alias("k")
    )
    # one row per distinct (bucket, signature): tiny vs the corpus — pin it
    # so the guard probe and the pair plan share a single signature pass
    groups = groups.localCheckpoint(eager=True)
    guard_dropped = False
    if max_bucket_size is not None:
        # guard on distinct signatures per bucket — that is what drives the
        # d^2 comparison cost (replica mass is already collapsed)
        w = Window.partitionBy("band_id", "band_key")
        sized = groups.withColumn("__d", F.count("*").over(w))
        # a sig group dropped from an oversized band-0 bucket may survive in
        # another band's small bucket — the hamming-0 short-circuit (band-0
        # only) would then miss its pairs, so the probe is only EXACT when
        # the guard dropped nothing
        guard_dropped = bool(
            sized.filter(F.col("__d") > max_bucket_size).limit(1).count()
        )
        groups = sized.filter(F.col("__d") <= max_bucket_size).drop("__d")
    within = groups.filter(F.col("k") >= 2).select(
        F.explode(_lex_pairs(F.col("ids"), F.lit(0), n)).alias("p")
    )
    # hamming-0 probe on band 0 ONLY: identical signatures agree on every
    # band, so band 0's (band_key, simhash) groups partition the corpus by
    # full signature — sum C(k,2) there is the EXACT distinct hamming-0
    # pair count (any band would work; all bands would count each pair
    # n_bands times)
    band0 = groups.filter((F.col("band_id") == 0) & (F.col("k") >= 2))
    row = band0.agg(
        F.sum(
            F.least(((F.col("k") * (F.col("k") - 1)) / 2).cast("long"), F.lit(n))
        ).alias("s")
    ).collect()[0]
    if (row["s"] or 0) >= n and not guard_dropped:
        return (
            band0.select(F.explode(_lex_pairs(F.col("ids"), F.lit(0), n)).alias("p"))
            .select("p.id_a", "p.id_b", "p.hamming")
            .orderBy("hamming", "id_a", "id_b")
            .limit(n)
        )
    bsigs = (
        groups.groupBy("band_id", "band_key")
        .agg(F.collect_list(F.struct("simhash", "ids")).alias("gs"))
        .filter(F.size("gs") > 1)
    )
    cross_arr = F.flatten(
        F.transform(
            F.col("gs"),
            lambda x, i: F.flatten(
                F.transform(
                    F.filter(
                        F.slice(F.col("gs"), i + 2, F.size(F.col("gs"))),
                        lambda y: F.bit_count(x["simhash"].bitwiseXOR(y["simhash"]))
                        <= max_hamming,
                    ),
                    lambda y: _cross_pairs(
                        x["ids"],
                        y["ids"],
                        F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])),
                        n,
                    ),
                )
            ),
        )
    )
    # per-bucket top-n slice BEFORE the explode: a bucket's array holds one
    # struct per qualifying group pair — sorting it locally and keeping n
    # bounds the exploded stream at n rows per bucket (exact: a global
    # top-n pair beats all but <n pairs inside its own bucket)
    cross = bsigs.select(F.explode(F.slice(F.array_sort(cross_arr), 1, n)).alias("p"))
    # TakeOrdered FIRST (map-side partial top-k, no shuffle of the pair
    # mass), THEN dedup: a pair appears at most once per band, so the top
    # n*n_bands duplicated rows surely contain the top n distinct pairs —
    # this replaces a full dropDuplicates shuffle of the (possibly
    # quadratic) candidate stream with a driver-sized merge
    return (
        within.unionByName(cross)
        .select("p.id_a", "p.id_b", "p.hamming")
        .orderBy("hamming", "id_a", "id_b")
        .limit(n * n_bands)
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("hamming", "id_a", "id_b")
        .limit(n)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bucket_col: str,
    n: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact n-gram (word) Jaccard via a shingle-postings equi-join: explode
    distinct shingles, pair documents through shared (bucket, shingle) keys,
    count shared shingles per pair, then |A∪B| = |A| + |B| - |A∩B|.

    Scale shape: an all-pairs ``array_intersect`` within a bucket is
    O(bucket²·|sh|) — measured 37s at sf0.1. The postings join is
    O(Σ_shingle df²) and word-3-gram document frequencies are tiny, so
    documents sharing no shingle are never even paired (same results,
    ~25× faster here)."""
    sh = (
        _fan_out(df)
        .select(
            F.col(id_col).alias("id"),
            F.col(bucket_col).alias("bucket"),
            tokenize(F.col(text_col)).alias("__toks"),
        )
        .filter(F.size("__toks") >= n)
        .select(
            "id", "bucket", F.array_distinct(shingles_from_tokens(F.col("__toks"), n)).alias("sh")
        )
        .withColumn("nsh", F.size("sh"))
    )
    ex = sh.select("id", "bucket", "nsh", F.explode("sh").alias("g"))
    # Catalyst estimates the join input from pre-explode parquet stats and
    # tries to BROADCAST the exploded postings (hundreds of MB at sf0.1,
    # unbounded at scale) — force the shuffle hash join a postings self-join
    # wants: both sides partition on the same key, no driver materialization.
    a, b = ex.alias("a"), ex.hint("shuffle_hash").alias("b")
    pairs = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.g") == F.col("b.g")))
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.nsh").alias("nsh_a"),
            F.col("b.nsh").alias("nsh_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    union = F.col("nsh_a") + F.col("nsh_b") - F.col("inter")
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(F.col("inter") / F.greatest(union, F.lit(1)), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def hyperplanes(dim: int, nplanes: int = 16, seed: int = 42):
    """Deterministic random hyperplanes for sign-LSH; shared by the Spark
    operator and the DuckDB oracle (constants inlined on both sides)."""
    import numpy as np

    return np.random.default_rng(seed).standard_normal((nplanes, dim))


def embedding_lsh_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    min_cosine: float = 0.4,
    nplanes: int = 16,
    bands: int = 4,
    seed: int = 42,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Scale path for embedding near-dup: sign-LSH (random hyperplane)
    signatures → band buckets → candidate pairs → exact cosine only on
    candidates. Replaces the O(n²) join of embedding_neardup_pairs with
    O(n·bucket) work; signatures/banding are JVM expressions (no UDF).

    Similar vectors agree on most signature bits (P[bit agree] = 1 - θ/π),
    so banding keeps true near-dups while pruning the cross product."""
    band_bits = nplanes // bands
    planes = hyperplanes(dim, nplanes, seed)
    v = F.col(vec_col).cast("array<double>")
    # The plane matrix is ONE nested-array literal and the signature ONE
    # aggregate over plane indexes — not nplanes unrolled dot expressions
    # each embedding dim inlined literals (16×64 Literal nodes). The big
    # tree made every Catalyst pass (AQE re-optimizations, per-task
    # UnsafeProjection canonicalize, Janino compile) scale with dim×planes:
    # measured 10-18 s of driver planning/codegen on a 2 s query at sf0.1.
    # Float semantics are IDENTICAL: per plane, the same zip_with-multiply
    # → left-fold sum; bit packing is exact integer math in the same order.
    planes_lit = F.lit([[float(x) for x in p] for p in planes])
    pows_lit = F.lit([1 << i for i in range(nplanes)])

    def _plane_dot(w):
        return F.aggregate(
            F.zip_with(v, w, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )

    sig = F.aggregate(
        F.sequence(F.lit(1), F.lit(nplanes)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            _plane_dot(F.element_at(planes_lit, i)) > 0, F.element_at(pows_lit, i)
        ).otherwise(F.lit(0)),
    )

    # per-ROW norm, computed once per VECTOR before the band explode: the
    # in-bucket cosine needs ‖a‖·‖b‖ per PAIR, and a bucket of k vectors
    # evaluates C(k,2) pairs — folding the norm there re-ran the
    # dim-element sum-of-squares 2·C(k,2) times instead of k (measured 35%
    # of the pair stage at sf0.1). Computing it after the explode (r13)
    # still ran it bands× per vector (ADVICE r13). Same float math: the
    # identical left-fold over the identical array; dot/(na·nb) unchanged.
    sigs = df.select(F.col(id_col).alias("id"), v.alias("v"), sig.alias("sig")).withColumn(
        "nrm", F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x))
    )

    mask = (1 << band_bits) - 1
    banded = sigs.select(
        "id",
        "v",
        "nrm",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col("sig"), b * band_bits).bitwiseAND(F.lit(mask)).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "v", "nrm", "band.band_id", "band.band_key")
    buckets = _bucketed(banded, ["id", "v", "nrm"], max_bucket_size)

    # in-bucket pairs as ONE numpy GEMM per bucket (guide §4.2): the r13
    # form evaluated an interpreted dim-element zip_with/aggregate fold per
    # pair — C(k,2)·dim lambda steps per bucket; V·Vᵀ/outer(nrm,nrm) does
    # the same arithmetic vectorized. Float-equivalence at the round(·,4)
    # oracle boundary: BLAS sums a dim-64 float64 dot in a different order
    # than the JVM left-fold (≤ dim·eps ≈ 1e-14 relative) — verified
    # value-identical on EVERY candidate pair at sf0.001/0.01/0.1
    # (29k–473k pairs; measured min distance of any raw cosine to the 0.4
    # threshold 2.5e-5 and to a .00005 rounding boundary 4.5e-11 — three
    #-plus orders above the summation-order error, and the same margin
    # the existing JVM-vs-DuckDB oracle comparison already relies on; the
    # pinned-seed corpus keeps this stable).
    # Spark's NaN semantics replicated: NaN sorts ABOVE every double, so a
    # 0/0 cosine (two zero-norm vectors) PASSES the >= threshold in the
    # JVM — the isnan term keeps that behavior.
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    idt = dict(df.dtypes)[id_col]
    thr = float(min_cosine)

    @pandas_udf(f"array<struct<id_a:{idt},id_b:{idt},cosine:double>>")
    def _bucket_pairs(ms_s: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for ms in ms_s:
            members = [m for m in ms if m["v"] is not None]
            k = len(members)
            if k < 2:
                out.append([])
                continue
            V = np.asarray([m["v"] for m in members], dtype=np.float64)
            nrm = np.asarray([m["nrm"] for m in members], dtype=np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = (V @ V.T) / np.outer(nrm, nrm)
            iu, ju = np.triu_indices(k, 1)
            c = S[iu, ju]
            keep = (c >= thr) | np.isnan(c)  # NaN ranks above all in Spark
            pairs = []
            for i, j, cos in zip(iu[keep], ju[keep], c[keep]):
                a, b = members[i]["id"], members[j]["id"]
                if b < a:
                    a, b = b, a
                pairs.append((a, b, float(cos)))
            out.append(pairs)
        return pd.Series(out)

    return (
        buckets.select(F.explode(_bucket_pairs(F.col("ms"))).alias("p"))
        .select("p.*")
        .withColumn("cosine", F.round("cosine", 4))
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_neardup_pairs(
    df: DataFrame, vec_col: str, id_col: str, min_cosine: float = 0.4
) -> DataFrame:
    """Exact cosine threshold pairs. O(n²) — correct baseline and oracle;
    the LSH/IVF route (operators/knn.py) is the 100 TB path."""
    from lance_spark.functions.vector import cosine_sim

    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cosine_sim(F.col("a.v"), F.col("b.v")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


def _cc_edge_gate(conf_value: str | None) -> int:
    """Driver union-find edge budget: the ``lance_spark.cc.driverEdgeGate``
    conf, else ``LANCE_SPARK_CC_EDGE_GATE``, else 2,000,000 (0 = always the
    distributed loop). A non-integer or negative value such as '2e6' raises."""
    raw = os.environ.get("LANCE_SPARK_CC_EDGE_GATE", "2000000") if conf_value is None else conf_value
    try:
        gate = int(raw)
    except ValueError:
        gate = -1
    if gate < 0:
        raise ValueError(
            "lance_spark.cc.driverEdgeGate / LANCE_SPARK_CC_EDGE_GATE must be "
            f"a non-negative integer edge count, got {raw!r}"
        )
    return gate


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over a duplicate-pair graph: returns
    ``(id, cluster_id)`` where ``cluster_id`` is the smallest node id
    reachable from ``id`` (singletons cluster to themselves).

    Min-label propagation: each round every node adopts the minimum label
    in its closed neighborhood (one shuffle join on node id + a min
    aggregate per round). The minimum spreads one hop per round, so rounds
    = component diameter. Near-duplicate graphs are dense local cliques —
    diameters stay in single digits even at web scale, which is why
    map-reduce dedup pipelines ship exactly this loop. `localCheckpoint`
    truncates lineage each round so the plan does not grow with iterations,
    and materializing the edge set once keeps the (expensive) pair
    generation out of the loop.

    The reference stops at pair generation; a real pipeline needs the
    assignment step (keep one doc per cluster) — this is that step.
    """
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
    edges = edges.localCheckpoint(eager=True)
    # Small-graph fast path: when the (already materialized) edge set fits
    # a driver budget, run union-find on the driver and broadcast-join the
    # labels back — same output (cluster = min reachable id) without the
    # O(diameter) rounds of 3-shuffle jobs. Near-dup graphs routinely have
    # chain components whose label takes 8+ rounds to converge while the
    # per-round update count is single digits (measured: rounds with
    # changed=1,1 at the tail); each tail round is a full pass over every
    # node. The gate (edges, both directions) is conf/env-tunable; past it
    # the distributed loop below is unchanged — at 100 TB pair counts the
    # loop is the only shape that works, but a collected edge list at the
    # default gate is ≤ ~64 MB on the driver, the same budget class as the
    # broadcast-model operators.
    gate = _cc_edge_gate(nodes.sparkSession.conf.get("lance_spark.cc.driverEdgeGate", None))
    # ONE bounded job decides the gate AND fetches the edges: a
    # limit(gate+1) over the checkpointed edge blocks early-exits as soon
    # as gate+1 rows are seen, so an over-gate graph never ships more than
    # gate+1 rows to the driver — and an under-gate graph skips the
    # separate count() job the old shape paid (guide §1.2: fewer passes).
    # The transfer is toPandas (Arrow when enabled — columnar batches, no
    # per-row py4j Row objects; VERDICT r13 #4): a gate-full int64 edge
    # list lands as two 2M-element numpy columns (~32 MB) instead of 2M
    # pickled Rows, and the union-find loop walks plain python lists.
    # Driver heap at the default gate: the two .tolist() columns are
    # ~2M boxed python ints each (~120 MB transient) plus the parent dict
    # — a driver-memory budget call, env-tunable via the gate.
    if gate > 0:
        edge_pdf = edges.limit(gate + 1).toPandas()
        n_edges = len(edge_pdf)
    else:
        edge_pdf, n_edges = None, -1
    if edge_pdf is not None and n_edges <= gate:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        srcs = edge_pdf[edge_pdf.columns[0]].tolist()
        dsts = edge_pdf[edge_pdf.columns[1]].tolist()
        for a, b in zip(srcs, dsts):
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN id so every root is its component's minimum
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        mapping = [(x, find(x)) for x in parent]
        spark = nodes.sparkSession
        node_field = nodes.select(F.col(id_col)).schema.fields[0]
        from pyspark.sql.types import StructField, StructType

        from lance_spark.io import local_df

        map_df = local_df(
            spark,
            mapping,
            StructType(
                [
                    StructField("__cc_node", node_field.dataType, True),
                    StructField("__cc_comp", node_field.dataType, True),
                ]
            ),
        )
        return (
            nodes.select(F.col(id_col))
            .join(
                F.broadcast(map_df), F.col(id_col) == F.col("__cc_node"), "left"
            )
            .select(
                F.col(id_col),
                F.coalesce(F.col("__cc_comp"), F.col(id_col)).alias("cluster_id"),
            )
        )
    labels = nodes.select(F.col(id_col).alias("node"), F.col(id_col).alias("comp"))
    changed = 1
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = (
            labels.join(nbr_min, labels["node"] == nbr_min["src"], "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"),
                (F.coalesce("nbr_comp", "comp") < F.col("comp")).alias("__chg"),
            )
            # LAZY checkpoint + full count in ONE action: the count
            # materializes every partition into the checkpoint (no
            # limit-style early exit — that could leave it torn) AND
            # returns the convergence probe, halving the per-round job
            # count (r12; was eager checkpoint + a second probe job)
            .localCheckpoint(eager=False)
        )
        changed = stepped.filter(F.col("__chg")).count()
        labels = stepped.drop("__chg")
        if changed == 0:
            break
    if changed:
        # exiting with changes pending means SOME component's diameter
        # exceeded max_iter: its labels are wrong (a cluster can end up
        # with no canonical member — downstream keep-one-per-cluster then
        # silently drops or double-keeps docs). Fail loudly; the caller
        # raises max_iter for chain-shaped graphs.
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter}"
            " rounds (a component's diameter exceeds it); raise max_iter"
        )
    return labels.select(F.col("node").alias(id_col), F.col("comp").alias("cluster_id"))


def duplicate_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bucket_col: str,
    n: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Near-duplicate clustering end-to-end: exact n-gram-Jaccard candidate
    pairs (shingle-postings join — see ngram_jaccard_pairs) → connected
    components → ``(id, cluster_id, is_canonical)``. Every input doc appears
    exactly once; ``is_canonical`` marks the one doc per cluster a dedup
    pipeline keeps (the smallest id)."""
    pairs = ngram_jaccard_pairs(df, text_col, id_col, bucket_col, n=n, min_jaccard=min_jaccard)
    nodes = df.select(F.col(id_col).alias("id"))
    cc = connected_components(nodes, pairs)
    return cc.select(
        F.col("id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        (F.col("cluster_id") == F.col("id")).alias("is_canonical"),
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    para_tokens: int = 10,
) -> DataFrame:
    """Paragraph-level exact dedup — the sub-document granularity web-corpus
    pipelines run AFTER doc-level dedup (boilerplate headers/footers repeat
    across distinct documents). Splits each doc into fixed ``para_tokens``
    token windows (the splitter is a detail; the plan is identical for
    \\n\\n-delimited paragraphs), keeps each distinct paragraph's FIRST
    occurrence — (min doc, min position) — and reports per-document survival:
    ``(id, n_paras, n_kept)``.

    Scale: explode is row-local; ONE shuffle on the paragraph hash with a
    map-side-combined min aggregation (never a collect_list of occurrences);
    the winner set joins back by hash. At 100 TB the hash shuffle carries
    (hash, doc, pos) triples only — never paragraph text.
    """
    toks = F.col("__toks")
    paras = (
        df.select(F.col(id_col).alias("id"), tokenize(F.col(text_col)).alias("__toks"))
        .filter(F.size(toks) > 0)
        .select(
            "id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.floor((F.size(toks) - 1) / para_tokens).cast("int")),
                    lambda i: F.slice(toks, i * para_tokens + 1, para_tokens),
                )
            ).alias("pos", "__p"),
        )
        .filter(F.size("__p") > 0)
        .select("id", "pos", F.md5(F.array_join("__p", " ")).alias("h"))
    )
    # ONE pass over the paragraphs: the winner — min (id, pos) per hash —
    # is row_number()==1 under the same hash partitioning, so the explode
    # stream is scanned once and shuffled once. The previous groupBy +
    # join-back under a shared h-repartition computed the winner agg AND
    # the join probe as two consumers of the exchange (an extra agg
    # exchange + join stage; the same shape substring_duplicate_spans
    # dropped for its ~2× win).
    w_ord = Window.partitionBy("h").orderBy("id", "pos")
    kept = paras.withColumn("keep", (F.row_number().over(w_ord) == 1).cast("long"))
    return kept.groupBy("id").agg(
        F.count("*").alias("n_paras"),
        F.sum("keep").alias("n_kept"),
    )


def sampled_window_hashes(
    df: DataFrame, text_col: str, id_col: str, window: int, every: int
) -> DataFrame:
    """Content-defined sampled character windows → ``(id, pos, h)``.

    Windows anchor at every word start of ``text_col`` and survive only
    when ``hash64(window_text) % every == 0`` — selection depends on
    window CONTENT alone, so identical passages yield identical sampled
    windows at ANY byte alignment (winnowing / CDC chunking, Schleimer et
    al. 2003). Row-local built-ins only; the ``% every`` sampling prunes
    1-1/every of rows before anything downstream shuffles.

    Long-document design (VERDICT r8 #2): each row is first exploded into
    small overlapping SEGMENTS (step chars + window-1 overlap, plus one
    lookback char for the word-start test), and anchors enumerate within a
    segment. This fixes two independent long-doc hazards of the naive
    ``filter(sequence(1, length(t)), ...)`` form: (a) the dense
    char-count-sized integer transient (8-80 MB per row on 1-10 MB
    book/code docs — precisely where span dedup matters), and (b) the
    O(n²) cost of per-anchor ``substr`` on a multi-MB string — Spark's
    UTF8String.substring is a linear char-boundary scan from byte 0, so
    anchoring directly against the full text is quadratic (measured: two
    3 MB docs took >400 s; segmented, seconds). Per-row transient is now
    segment-sized; total substr work is O(n·step). The anchor set and
    hashes are IDENTICAL to the unsegmented form: segments tile
    [1, length-window+1] exactly and windows never cross a tile boundary
    (the overlap covers them).
    """
    # ~sqrt(doc_len · word_len) balances segment extraction (O(n²/step))
    # against in-segment anchor scans (O(n·step/word_len))
    step = 4096
    t = F.col(text_col)
    # sentinel space: word-start at global pos p ⟺ t2[p] == ' '
    # (uniformly covers p == 1), and window text = t2[p+1..p+window]
    t2 = F.concat(F.lit(" "), t)
    maxp = (F.length(t) - window + 1).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), F.ceil(maxp / F.lit(step)).cast("int") - 1),
        lambda b: F.struct(
            (b * step).cast("int").alias("base"),
            t2.substr(b * step + 1, F.lit(step + window)).alias("seg"),
        ),
    )
    seg = F.col("s.seg")
    base = F.col("s.base")
    anchors = F.filter(
        F.sequence(F.lit(1), F.least(F.lit(step), F.col("__maxp") - base)),
        # any whitespace, not just ' ': one-word-per-line / tab-indented
        # text would otherwise produce ZERO anchors and its repeated spans
        # would be invisible regardless of length (the documented
        # sensitivity bound assumes anchors at every word start)
        lambda j: seg.substr(j, F.lit(1)).isin(" ", "\n", "\t", "\r"),
    )
    return (
        # fan out BEFORE the anchor explode: documents often arrive as one
        # scan split (single parquet row group), and the per-anchor
        # substr+md5 work is the dominant CPU of the span operators — on
        # one task it serializes on a single core (measured 2.5 s of a
        # 3 s query in ONE task at sf0.1; guide §2.5 input skew)
        _fan_out(df).filter(F.length(t) >= window)
        .select(F.col(id_col).alias("id"), maxp.alias("__maxp"), F.explode(segs).alias("s"))
        .select(
            "id",
            F.explode(
                F.filter(
                    F.transform(
                        anchors,
                        lambda j: F.struct(
                            (base + j).cast("int").alias("pos"),
                            hash64(seg.substr(j + 1, F.lit(window))).alias("h"),
                        ),
                    ),
                    lambda s: s["h"] % every == 0,
                )
            ).alias("w"),
        )
        .select("id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    )


def merge_anchor_spans(d: DataFrame, window: int, gap: int) -> DataFrame:
    """Merge matched anchor positions ``(id, pos)`` into maximal spans
    ``(id, span_start, span_len)``: a new span starts when the next
    anchor is more than ``gap`` chars away. One window function
    partitioned by doc id — the only shuffle, and it carries only the
    matched anchors."""
    w_ord = Window.partitionBy("id").orderBy("pos")
    marks = d.withColumn(
        "new",
        F.when(F.col("pos") - F.lag("pos").over(w_ord) > gap, 1).otherwise(0),
    )
    isl = marks.withColumn("grp", F.sum("new").over(w_ord))
    return (
        isl.groupBy("id", "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") - F.min("pos") + window).cast("long").alias("span_len"),
        )
        .select("id", "span_start", "span_len")
    )


def substring_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 40,
    every: int = 4,
    min_docs: int = 2,
    max_gap: int | None = None,
) -> DataFrame:
    """Character-window substring dedup — the span-level granularity of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"): web corpora repeat SPANS (boilerplate, license headers,
    quoted passages) across otherwise-distinct documents, and doc-level
    near-dup misses them entirely.

    Fixed-stride windows CANNOT work here: a passage repeated at offsets
    that differ by a non-multiple of the stride slices into different
    windows in each doc (the alignment problem that pushes Lee et al. to
    suffix arrays, which don't distribute). Instead windows are
    CONTENT-DEFINED: anchored at every word start, then sampled by
    ``hash(window) % every == 0`` — the selection depends only on window
    CONTENT, so a repeated passage produces identical sampled windows at
    any alignment (the winnowing/CDC-chunking trick, Schleimer et al.
    2003). Windows whose hash occurs in >= ``min_docs`` distinct docs are
    merged per doc into maximal spans: a new span starts when the next
    duplicated anchor is more than ``max_gap`` (default ``window``) chars
    away.

    Returns ``(id, span_start, span_len)`` — 1-based char offsets.
    Sensitivity: a repeated region is detected iff it covers a sampled
    anchor window; expected anchor spacing is ``every``×(avg word length),
    so regions shorter than ~``window + every*6`` chars can be missed —
    lower ``every`` for higher sensitivity (1 = every word start).

    Scale: anchor selection and hashing are row-local built-ins (one pass
    over the text column, no Python UDFs); the hash %% sampling prunes
    1-1/every of candidate rows BEFORE the only shuffle, which carries
    (hash, id, pos) triples — never text. The duplicated-hash set is
    duplicate-bounded and re-joins by hash; span merging is one window
    function partitioned by doc id.
    """
    gap = max_gap if max_gap is not None else window
    # ONE pass over the anchors: the dup gate (>= min_docs distinct docs
    # per hash) is two window functions over the SAME hash partitioning —
    # a first-occurrence-per-(h, id) flag from a sorted lag, summed per h.
    # The previous groupBy + join-back shape computed the anchor explode
    # into TWO map stages (column pruning specialized each consumer's
    # projection under the shared repartition, defeating ReuseExchange —
    # both stages measured ~2.5 s CPU each at sf0.1); this shape scans the
    # anchors once and shuffles them once.
    wins = sampled_window_hashes(df, text_col, id_col, window, every)
    w_ord = Window.partitionBy("h").orderBy("id", "pos")
    w_all = Window.partitionBy("h")
    first_of_doc = (
        F.lag("id").over(w_ord).isNull() | (F.lag("id").over(w_ord) != F.col("id"))
    )
    d = (
        wins.withColumn("__first", first_of_doc.cast("long"))
        .withColumn("__nd", F.sum("__first").over(w_all))
        .filter(F.col("__nd") >= min_docs)
        .select("id", "pos")
    )
    return merge_anchor_spans(d, window, gap)


def semantic_dedup_keep(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    min_cosine: float = 0.4,
) -> DataFrame:
    """Semantic (embedding-space) dedup end-to-end: sign-LSH candidate
    pairs → exact-cosine threshold → connected components → per-row keep
    flag ``(id, cluster_id, keep)``. ``keep`` marks the one row per
    semantic cluster a pipeline retains (smallest id); every input row
    appears exactly once.

    This is SemDeDup-style curation assembled from the scale-safe pieces:
    bucketed LSH (never an O(n²) self-join), components via min-label
    propagation (rounds = cluster diameter)."""
    pairs = embedding_lsh_pairs(df, vec_col, id_col, dim=dim, min_cosine=min_cosine)
    nodes = df.select(F.col(id_col).alias("id"))
    cc = connected_components(nodes, pairs)
    return cc.select(
        "id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        (F.col("cluster_id") == F.col("id")).alias("keep"),
    )


# ------------------------------------------------------------------------
# Incremental dedup against a PERSISTED fingerprint index — the production
# pipeline shape: each new snapshot dedups against the accumulated corpus
# WITHOUT re-scanning its text. The index is itself a lance dataset (one
# banded row per (doc, band): id, fp, sig, band_id, band_key), so it
# versions, appends, and compacts like any table. At 100 TB of corpus text
# the index is ~bands rows of a few hundred bytes per doc — the join
# shuffles fingerprints, never documents.
# ------------------------------------------------------------------------


def _banded_fingerprints(
    df: DataFrame, text_col: str, id_col: str, num_perm: int, bands: int, shingle_k: int
) -> DataFrame:
    """(id, fp, sig, band_id, band_key): exact canonical fingerprint +
    minhash signature, exploded into band rows (same signature/band math
    as minhash_lsh_pairs, so thresholds mean the same thing)."""
    rows_per_band = num_perm // bands
    # ONE tokenize pass and one projection: fp and sig are both row-local
    # functions of the same token array. fp is md5 of the space-joined
    # canonical token stream in the JVM (concat_ws skips a NULL array →
    # "" hashes exactly like the old Python " ".join fallback); sig is
    # ``_sig_col``, the pair path's signature. Docs too short to shingle
    # carry a NULL sig. INVARIANT (relied on by
    # dedup_against_index's exact branch and the band_id==0 slice): every
    # doc — including NULL-sig ones — emits ALL band_id rows, with NULL
    # band_key for NULL sigs; dropping NULL-band_key rows at write time
    # would make exact duplicates of short docs undetectable.
    toks = _fan_out(df).select(
        F.col(id_col).alias("id"), tokenize(F.col(text_col)).alias("__toks")
    )
    joined = toks.select(
        "id",
        F.md5(F.concat_ws(" ", F.col("__toks"))).alias("fp"),
        _sig_col(F.col("__toks"), num_perm, shingle_k).alias("sig"),
    )
    return joined.select(
        "id",
        "fp",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.when(
                            F.col("sig").isNotNull(),
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            ),
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "fp", "sig", "band.band_id", "band.band_key")


def build_fingerprint_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    uri: str,
    *,
    mode: str = "create",
    num_perm: int = MINHASH_PERMS,
    bands: int = MINHASH_BANDS,
    shingle_k: int = 3,
):
    """Persist a corpus's dedup fingerprints as a lance dataset. ``mode=
    'append'`` accumulates a new snapshot's fingerprints into an existing
    index (run it on the SURVIVORS of dedup_against_index, so the index
    grows dedup-clean). Returns the index LanceDataset."""
    from lance_spark.write import write_dataset

    params = {"num_perm": num_perm, "bands": bands, "shingle_k": shingle_k}
    if mode == "append":
        # appending fingerprints built with DIFFERENT params would corrupt
        # the index silently (band keys stop matching anything)
        from lance_spark.dataset import dataset as _open

        try:
            existing = _open(uri)
        except FileNotFoundError:
            existing = None
        if existing is not None:
            _check_index_params(existing, num_perm, bands, shingle_k)
    banded = _banded_fingerprints(df, text_col, id_col, num_perm, bands, shingle_k)
    ds = write_dataset(banded, uri, mode=mode)
    if mode != "append":
        ds = ds.update_config(
            {f"lance_spark.dedup.{k}": str(v) for k, v in params.items()}
        )
    return ds


def _check_index_params(index_ds, num_perm: int, bands: int, shingle_k: int) -> None:
    """A query/append with params differing from the ones the index was
    built with silently disables near-dup detection (band keys never
    match) — raise instead. Indexes built before params were recorded
    skip the check."""
    cfg = index_ds.manifest.config
    for k, v in (("num_perm", num_perm), ("bands", bands), ("shingle_k", shingle_k)):
        got = cfg.get(f"lance_spark.dedup.{k}")
        if got is not None and int(got) != int(v):
            raise ValueError(
                f"fingerprint index was built with {k}={got}, called with"
                f" {k}={v}: band keys would never match — pass the index's"
                " parameters"
            )


def dedup_against_index(
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    index_ds,
    spark,
    *,
    min_est_jaccard: float = 0.5,
    exact: bool = True,
    near: bool = True,
    num_perm: int = MINHASH_PERMS,
    bands: int = MINHASH_BANDS,
    shingle_k: int = 3,
) -> DataFrame:
    """Rows of ``new_df`` that do NOT duplicate the indexed corpus:
    ``exact`` drops canonical-fingerprint collisions (anti-join on fp);
    ``near`` drops docs whose minhash signature agrees with any indexed
    signature on >= ``min_est_jaccard`` of positions — candidates come
    from the banded equi-join (LSH's contract: a high-jaccard pair shares
    at least one band), so no all-pairs comparison ever happens.

    One pass over the NEW snapshot's text; the corpus contributes only its
    fingerprint rows."""
    _check_index_params(index_ds, num_perm, bands, shingle_k)
    idx = index_ds.to_df(spark)
    nb = _banded_fingerprints(new_df, text_col, id_col, num_perm, bands, shingle_k)
    if exact and near:
        # both branches consume nb — a lazy checkpoint makes the snapshot's
        # tokenize+fingerprint pass run ONCE (materialized at first action,
        # lineage truncated) instead of once per branch
        nb = nb.localCheckpoint(eager=False)
    doomed = None
    if exact:
        # band_id == 0 selects exactly ONE fp row per indexed id (every id
        # has every band), so no distinct exchange is needed on the index
        # side — duplicate fps across duplicate corpus docs only duplicate
        # hit ids, which the final doomed.distinct() collapses anyway.
        hits = nb.select("id", "fp").join(
            idx.filter(F.col("band_id") == 0).select(F.col("fp").alias("ifp")),
            F.col("fp") == F.col("ifp"),
            "inner",
        ).select("id")
        doomed = hits
    if near:
        cand = (
            nb.filter(F.col("band_key").isNotNull())
            .alias("n")
            .join(
                idx.filter(F.col("band_key").isNotNull()).alias("i"),
                on=["band_id", "band_key"],
                how="inner",
            )
            .select(F.col("n.id").alias("id"), F.col("n.sig").alias("sig"),
                    F.col("i.sig").alias("isig"))
        )
        # est is ROW-LOCAL: evaluate it in the join's own stage and project
        # down to the id before anything shuffles. The previous
        # dropDuplicates(["id", "isig"]) paid a whole exchange carrying two
        # 32-int arrays per row just to avoid re-evaluating this 32-lane
        # fold on band-duplicated pairs — strictly worse than recomputing
        # it (≤bands× per pair); duplicate surviving ids collapse in the
        # final doomed.distinct().
        agree = F.aggregate(
            F.zip_with("sig", "isig", lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        near_hits = (
            cand.withColumn("est", F.round(agree / F.lit(num_perm), 4))
            .filter(F.col("est") >= min_est_jaccard)
            .select("id")
        )
        doomed = near_hits if doomed is None else doomed.unionByName(near_hits)
    if doomed is None:
        return new_df
    # Checkpoint the doomed-id set: Catalyst rewrites anti-join-over-union
    # as union-of-anti-joins, so when new_df is a multi-branch union the
    # ENTIRE exact+near pipeline was replicated into every branch (the
    # sf0.1 plan computed it 3× — 38 Exchange nodes). A materialized id
    # frame replicates for free.
    doomed = doomed.distinct().localCheckpoint(eager=False)
    return new_df.join(
        doomed.withColumnRenamed("id", id_col), on=id_col, how="left_anti"
    )
