"""Distributed BPE tokenizer training + encoding.

Byte-pair encoding (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units") is the vocabulary-construction step of
most LLM training pipelines. The reference engine ships tokenizers for
SEARCH (rust/lance-index/src/scalar/inverted/tokenizer.rs) but no subword
trainer; this module is the Spark-native training-data extension, built
the way production BPE trainers actually run:

  1. corpus → word histogram: ONE map-side-combined shuffle. The unique-
     word table is bounded by vocabulary growth (Heaps' law: ~K·N^0.5),
     not corpus size, and is additionally capped at ``max_words`` rows by
     (count desc, word asc) — the dropped tail is words too rare to move
     any merge decision (the same min-frequency pruning HuggingFace
     tokenizers applies before training).
  2. merge learning runs DRIVER-side on the bounded histogram —
     identical to the canonical implementation (pair statistics are
     weighted by word counts; corpus text is never re-read). Incremental
     pair-count maintenance: each merge touches only the words that
     contain the merged pair.
  3. encoding never runs Python over the corpus: tokenization and word
     positions stay JVM-side; ONLY the distinct-word table (again
     Heaps-bounded) goes through an Arrow-batched ``mapInPandas`` encode,
     and the per-word piece sequences join back by word (count-gated
     broadcast). Python cost is O(unique words), not O(corpus tokens).

Determinism: merge ties break on (count desc, pair lexicographic asc);
words tie on (count desc, word asc); encoding applies the lowest-rank
pair present, all occurrences left-to-right — so the same corpus always
yields the same vocab and the same encoding, on any partitioning.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from lance_spark.functions.text import tokenize
from lance_spark.io import local_df, read_table, write_table

END_OF_WORD = "▁"  # sentencepiece-style word-boundary marker

# encode joins per-word piece rows back to the corpus positions table; the
# distinct-word side broadcasts only below this bound (same budget as the
# match_join vocabulary gate — past it the join shuffles).
_BROADCAST_ROW_BUDGET = 2_000_000


def word_histogram(
    df: DataFrame,
    text_col: str,
    max_words: int = 1_000_000,
    min_count: int = 1,
) -> DataFrame:
    """(word, cnt) histogram of ``text_col``, capped at ``max_words`` rows
    by (cnt desc, word asc). The single corpus-wide pass of BPE training."""
    counts = (
        df.select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    return counts.orderBy(F.desc("cnt"), "word").limit(max_words)


def _learn_merges(
    words: list[tuple[str, int]],
    vocab_size: int,
    min_pair_count: int,
) -> tuple[list[tuple[str, str]], list[str]]:
    """Canonical BPE merge learning over a (word, count) histogram.

    Returns (merges in rank order, base alphabet sorted). Incremental
    pair-statistics: a merge re-scans only the words that contain its
    pair. Pair selection is O(distinct pairs) per merge — fine for the
    few-thousand-merge vocabularies this targets; a lazy max-heap is the
    known upgrade path for 50k+ merges."""
    from collections import defaultdict

    seqs: list[tuple[str, ...]] = [tuple(w) + (END_OF_WORD,) for w, _ in words]
    cnts = [int(c) for _, c in words]
    pair_count: dict[tuple[str, str], int] = defaultdict(int)
    pair_words: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, s in enumerate(seqs):
        c = cnts[i]
        for p in zip(s, s[1:]):
            pair_count[p] += c
            pair_words[p].add(i)
    base = sorted({sym for s in seqs for sym in s})
    merges: list[tuple[str, str]] = []
    if len(base) > vocab_size:
        # the vocab can NOT be smaller than the base alphabet (every base
        # symbol must stay encodable) — warn loudly: a caller sizing an
        # embedding table to vocab_size would index out of bounds (r12)
        import warnings

        warnings.warn(
            f"bpe: vocab_size={vocab_size} is below the base alphabet size"
            f" ({len(base)}); the returned vocab will have {len(base)} tokens",
            stacklevel=3,
        )
    budget = max(0, vocab_size - len(base))
    while len(merges) < budget and pair_count:
        best_n = max(pair_count.values())
        if best_n < min_pair_count:
            break
        a, b = min(p for p, n in pair_count.items() if n == best_n)
        new_sym = a + b
        for i in list(pair_words[(a, b)]):
            s, c = seqs[i], cnts[i]
            for p in zip(s, s[1:]):
                pair_count[p] -= c
                if pair_count[p] <= 0:
                    del pair_count[p]
                    pair_words.pop(p, None)
                else:
                    pair_words[p].discard(i)
            seqs[i] = t = tuple(_apply_pair(s, a, b))
            for p in zip(t, t[1:]):
                pair_count[p] += c
                pair_words[p].add(i)
        merges.append((a, b))
    return merges, base


def bpe_train(
    df: DataFrame,
    text_col: str,
    *,
    vocab_size: int = 512,
    max_words: int = 1_000_000,
    min_count: int = 1,
    min_pair_count: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Train a BPE tokenizer on a corpus column.

    Returns ``(merges, vocab)``:
      - merges: (rank, left, right) — the merge table in training order;
      - vocab: (token, id) — base alphabet (sorted) then merged symbols in
        rank order, ids dense from 0.

    Scale: the corpus contributes ONE wordcount shuffle; everything after
    operates on the ≤``max_words``-row histogram (collected — bounded by
    the cap, independent of corpus size). ``vocab_size`` counts base
    symbols + merges; training stops early when no pair reaches
    ``min_pair_count``."""
    spark = df.sparkSession
    hist = [(r["word"], r["cnt"]) for r in word_histogram(df, text_col, max_words, min_count).collect()]
    merges, base = _learn_merges(hist, vocab_size, min_pair_count)
    # distinct merges can concatenate to the SAME symbol (("ab","c") and
    # ("a","bc") both yield "abc") — the vocab keeps the first occurrence
    # so (token → id) stays a function
    vocab, seen = [], set()
    for t in base + [a + b for a, b in merges]:
        if t not in seen:
            seen.add(t)
            vocab.append(t)
    merges_df = local_df(
        spark, [(i, a, b) for i, (a, b) in enumerate(merges)], "rank INT, left STRING, right STRING"
    )
    vocab_df = local_df(spark, [(t, i) for i, t in enumerate(vocab)], "token STRING, id BIGINT")
    return merges_df, vocab_df


def bpe_save(merges: DataFrame, vocab: DataFrame, model_uri: str) -> str:
    """Persist a trained tokenizer: ``<uri>/merges`` + ``<uri>/vocab``
    parquet and ``<uri>/meta.json``. Local paths only (the manifest
    layer's convention — same guard as nb_train).

    The save is ATOMIC per generation: everything writes into a
    ``.staging-<pid>`` sibling first and lands via one os.replace — a
    mid-save failure over an existing model can no longer leave new
    merges paired with old vocab/meta, a torn model that loads fine and
    silently mis-encodes every corpus (r12 review fix)."""
    import json
    import os
    import shutil

    from lance_spark.util import local_path

    path = local_path(model_uri, "bpe_save: model_uri")
    staging = f"{path.rstrip(os.sep)}.staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    try:
        write_table(merges.coalesce(1), os.path.join(staging, "merges"))
        write_table(vocab.coalesce(1), os.path.join(staging, "vocab"))
        meta = {"format": "bpe", "end_of_word": END_OF_WORD}
        with open(os.path.join(staging, "meta.json"), "w") as f:
            json.dump(meta, f)
        backup = f"{path.rstrip(os.sep)}.old-{os.getpid()}"
        # a crashed earlier process with a recycled pid can leave a stale
        # non-empty backup dir here — os.replace onto it would raise
        shutil.rmtree(backup, ignore_errors=True)
        moved_aside = False
        if os.path.isdir(path):
            os.replace(path, backup)
            moved_aside = True
        try:
            os.replace(staging, path)
        except BaseException:
            # restore the old model so a crash BETWEEN the two replaces
            # can't leave nothing at `path`
            if moved_aside and not os.path.isdir(path):
                os.replace(backup, path)
            raise
        shutil.rmtree(backup, ignore_errors=True)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return path


def bpe_load(spark: SparkSession, model_uri: str) -> tuple[DataFrame, DataFrame]:
    """Load a saved tokenizer, VALIDATING meta.json first: a directory
    written by a different model family (same local-path convention) or a
    future format with another end-of-word marker must fail fast, not
    decode with a wrong marker into silently fused text (r12 review)."""
    import json
    import os

    from lance_spark.util import local_path

    path = local_path(model_uri, "bpe_load: model_uri")
    meta_path = os.path.join(path, "meta.json")
    try:
        with open(meta_path) as f:
            meta = json.load(f)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"{meta_path} not found: not a saved bpe model (torn save or wrong path)"
        ) from None
    if meta.get("format") != "bpe":
        raise ValueError(f"{path} holds a {meta.get('format')!r} model, not 'bpe'")
    if meta.get("end_of_word") != END_OF_WORD:
        raise ValueError(
            f"model end_of_word {meta.get('end_of_word')!r} differs from this"
            f" build's {END_OF_WORD!r}; decode would split on the wrong marker"
        )
    return (
        read_table(spark, os.path.join(path, "merges")),
        read_table(spark, os.path.join(path, "vocab")),
    )


def _apply_pair(s, a: str, b: str) -> list[str]:
    """Merge every left-to-right occurrence of (a, b) in the symbol
    sequence. The ONE scan both training and encoding use — two copies of
    this loop drifting apart would break the same-corpus → same-encoding
    determinism contract."""
    out = []
    j = 0
    while j < len(s):
        if j < len(s) - 1 and s[j] == a and s[j + 1] == b:
            out.append(a + b)
            j += 2
        else:
            out.append(s[j])
            j += 1
    return out


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges to one word: lowest-rank pair present, all
    occurrences left-to-right, repeat (the GPT-2 encoder loop)."""
    s = list(word) + [END_OF_WORD]
    while len(s) >= 2:
        best_rank = None
        for j in range(len(s) - 1):
            r = ranks.get((s[j], s[j + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best = (s[j], s[j + 1])
        if best_rank is None:
            break
        a, b = best
        s = _apply_pair(s, a, b)
    return s


def bpe_encode_words(uniq_words: DataFrame, merges: DataFrame) -> DataFrame:
    """(word) → (word, pieces array<string>) via the merge table.

    The ONLY Python stage of encoding — and it runs over the distinct-word
    table, never the corpus. Merge ranks ride to executors as a plain
    broadcast dict (the merge table is vocab-sized by construction)."""
    spark = uniq_words.sparkSession
    ranks = {
        (r["left"], r["right"]): int(r["rank"]) for r in merges.collect()
    }
    rb = spark.sparkContext.broadcast(ranks)

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            rk = rb.value
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "pieces": [
                        _encode_word(w, rk) for w in pdf["word"]
                    ],
                }
            )

    # null words (from any raw source) carry no pieces — encoding None
    # would TypeError inside the executor and abort the job (r12 review)
    return (
        uniq_words.select("word")
        .filter(F.col("word").isNotNull())
        .distinct()
        .mapInPandas(enc, "word STRING, pieces ARRAY<STRING>")
    )


def _pieces_joined(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: DataFrame,
    transform_pieces=None,
) -> DataFrame:
    """Shared encode plan for bpe_encode / bpe_encode_ids (one copy — two
    hand-maintained clones of the words/checkpoint/broadcast-gate/join
    block would drift, r12 review): JVM-side tokenize + positions, Python
    over DISTINCT words only, piece rows joined back by word.

    The corpus appears TWICE in the DAG (the distinct-word pass and the
    join probe). For a NON-deterministic source (sample()/rand()-derived)
    the two evaluations see different rows and the inner join silently
    drops words the pieces pass never saw — so such plans are pinned with
    one checkpoint first (r12 review fix). Deterministic corpora keep the
    zero-materialization plan."""
    words = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokenize(F.col(text_col))).alias("pos", "word"),
    )
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # non-JVM backends: assume deterministic
        plan = ""
    import re

    if re.search(
        r"\brand\(|\bSample |\buuid\(|monotonically_increasing_id|\bshuffle\(", plan
    ):
        words = words.localCheckpoint(eager=True)
    pieces = bpe_encode_words(words.select("word"), merges)
    if transform_pieces is not None:
        pieces = transform_pieces(pieces)
    pieces = pieces.localCheckpoint(eager=True)
    side = F.broadcast(pieces) if pieces.count() <= _BROADCAST_ROW_BUDGET else pieces
    return words.join(side, "word")


def bpe_encode(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: DataFrame,
) -> DataFrame:
    """Encode a corpus with a trained merge table →
    ``(id, n_words, n_pieces, pieces_md5)`` where pieces_md5 fingerprints
    the document's full piece sequence in order (the compact equivalent of
    materializing token ids — same convention as encode_with_vocab).

    Scale: tokenize + positions stay JVM-side; Python encodes DISTINCT
    words only (Heaps-bounded); the pieces table joins back by word —
    count-gated broadcast, shuffle join past the budget. One shuffle
    carries (id, pos, word); the per-doc agg is the encode_with_vocab
    pattern."""
    joined = _pieces_joined(df, text_col, id_col, merges)
    return (
        joined.groupBy("id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.size("pieces")).alias("n_pieces"),
            F.md5(
                F.array_join(
                    F.flatten(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("pos", "pieces"))
                            ),
                            lambda s: s["pieces"],
                        )
                    ),
                    " ",
                )
            ).alias("pieces_md5"),
        )
    )


def bpe_encode_ids(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: DataFrame,
    vocab: DataFrame,
) -> DataFrame:
    """Encode to MATERIALIZED subword ids → ``(id, token_ids array<bigint>)``
    in document order — the shape a training loader consumes
    (``bpe_encode`` emits the compact count/fingerprint form instead).
    Pieces outside the trained vocab map to ``-1`` (the encode_with_vocab
    OOV convention). OOV can occur with a foreign/truncated vocab AND on
    the model's own corpus when ``min_count``/``max_words`` pruned every
    training word containing some character — the character never entered
    the base alphabet, and ``bpe_decode`` drops it silently.

    Scale: identical plan to ``bpe_encode`` — tokenize + positions stay
    JVM-side, Python touches DISTINCT words only (Heaps-bounded), and the
    piece→id map is a driver dict bounded by ``vocab_size`` (a training
    hyperparameter, corpus-independent). One shuffle carries
    (id, pos, word); per-doc order reassembles via array_sort."""
    spark = df.sparkSession
    vmap = {r["token"]: int(r["id"]) for r in vocab.collect()}  # ≤ vocab_size
    v_b = spark.sparkContext.broadcast(vmap)

    @pandas_udf("array<long>")
    def to_ids(ps: pd.Series) -> pd.Series:
        m = v_b.value
        return ps.apply(lambda arr: [m.get(p, -1) for p in arr])

    return (
        _pieces_joined(
            df, text_col, id_col, merges,
            transform_pieces=lambda p: p.withColumn("ids", to_ids("pieces")).drop("pieces"),
        )
        .groupBy("id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "ids"))),
                    lambda s: s["ids"],
                )
            ).alias("token_ids")
        )
    )


def bpe_decode(
    df: DataFrame,
    ids_col: str,
    id_col: str,
    vocab: DataFrame,
) -> DataFrame:
    """Decode subword ids back to text → ``(id, text)`` — the inverse of
    ``bpe_encode_ids`` up to the tokenizer's whitespace normalization:
    pieces concatenate, the sentencepiece-style END_OF_WORD marker splits
    words, words join with single spaces. Unknown / OOV ids decode to
    nothing (they carry no surface form).

    Scale: row-local — one Arrow-batched pass with a broadcast id→piece
    dict (bounded by vocab_size); no shuffle, no explode."""
    spark = df.sparkSession
    rmap = {int(r["id"]): r["token"] for r in vocab.collect()}
    r_b = spark.sparkContext.broadcast(rmap)

    @pandas_udf("string")
    def to_text(ids: pd.Series) -> pd.Series:
        m = r_b.value

        def dec(arr):
            if arr is None:  # arrow hands numpy arrays; bare `or` is ambiguous
                return ""
            # null ELEMENTS are legal array<long> data from any non-encode
            # source: they carry no surface form, like unknown ids (arrow
            # hands them as None OR NaN depending on the batch dtype)
            s = "".join(m.get(int(i), "") for i in arr if not pd.isna(i))
            return " ".join(w for w in s.split(END_OF_WORD) if w)

        return ids.apply(dec)

    return df.select(F.col(id_col).alias("id"), to_text(F.col(ids_col)).alias("text"))
