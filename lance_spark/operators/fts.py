"""Full-text search over a plain DataFrame: the flat-match fallback
(FlatMatchQueryExec, fts.rs:332).

Reference semantics (rust/lance-index/src/scalar/inverted/):
  - tokenizer: simple lower/split (tokenizer.rs:43-80) → functions/text.py
  - BM25 with k1=1.2, b=0.75 (scorer.rs:24-25)
  - query tree Match/Phrase/Boolean/Boost (query.rs:75-597)

Every function here runs the structured-query compiler (lance_spark/query.py)
over postings ``build_postings`` derives on the fly: the same BM25
(``_bm25``), phrase walk (``phrase_hits``), fuzzy expansion
(``_expand_fuzzy``) and term normalizer (``_query_terms``) the INVERTED
index path runs over the postings its build persists
(``indexes/inverted._positional_postings``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lance_spark.functions.text import tokenizer_expr
from lance_spark.query import (
    MatchQuery,
    PhraseQuery,
    _Corpus,
    _match_ids,
    _match_scores,
    _phrase_ids,
    _restricted_boolean,
    _topk,
)

BM25_K1 = 1.2
BM25_B = 0.75


def build_postings(df: DataFrame, text_col: str, id_col: str) -> tuple[DataFrame, DataFrame]:
    """Returns (postings{token, id, tf, positions}, doclens{id, dl}) with the
    simple tokenizer, in the JVM: no UDF and no checkpoint, so a query that
    filters ``token`` shuffles only its own terms' rows. ``positions`` are
    ascending token ordinals. NULL-text docs are unindexable and stay out
    of doclens: F.size of a NULL array is -1, which dragged avgdl down and
    inflated n_docs."""
    return _flat_postings(df, text_col, id_col, "simple")


def _flat_postings(df: DataFrame, text_col: str, id_col: str, tokenizer: str):
    """``build_postings`` with a named tokenizer: also the query-time
    postings of an INVERTED index's unindexed fragments."""
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), tokenizer_expr(tokenizer)(F.col(text_col)).alias("toks")
    )
    doclens = toks.select("id", F.size("toks").alias("dl"))
    postings = (
        toks.select("id", F.posexplode("toks").alias("pos", "token"))
        .groupBy("token", "id")
        .agg(
            F.count("*").alias("tf"),
            F.array_sort(F.collect_list("pos")).alias("positions"),
        )
    )
    return postings, doclens


def bm25_score_expr(tf, dl, idf, avgdl):
    return idf * (tf * (BM25_K1 + 1)) / (tf + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl))


def _corpus(df: DataFrame, text_col: str, id_col: str) -> _Corpus:
    return _Corpus(df.sparkSession, df=df, id_col=id_col, default_column=text_col)


def bm25_search(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k: int = 10,
    postings: DataFrame | None = None,
    doclens: DataFrame | None = None,
) -> DataFrame:
    """BM25 top-k for an OR-of-terms Match query. idf = ln(1 + (N-df+0.5)/(df+0.5)).
    ``k=None`` returns every scored row.

    Accepts prebuilt postings/doclens (from an INVERTED index) or builds
    them on the fly (the reference's flat-match fallback, fts.rs:332).
    """
    corpus = _corpus(df, text_col, id_col)
    if postings is not None and doclens is not None:
        corpus._cache[text_col] = (postings, doclens, "simple")
    scored = _match_scores(corpus, MatchQuery(" ".join(query_terms), text_col))
    return _topk(scored, k, id_col)


def phrase_match(
    df: DataFrame, text_col: str, id_col: str, phrase: str, slop: int = 0
) -> DataFrame:
    """Flat phrase query (FlatMatchQueryExec role, fts.rs:332; slop per
    PhraseQuery.slop): the indexed path's in-order position walk
    (``phrase_hits``) over postings built on the fly."""
    q = PhraseQuery(phrase, text_col, slop=slop)
    return _phrase_ids(_corpus(df, text_col, id_col), q).select(F.col("id").alias(id_col))


def fuzzy_match(
    df: DataFrame,
    text_col: str,
    id_col: str,
    term: str,
    fuzziness: int | None = 1,
    transpositions: bool = True,
    max_expansions: int = 50,
) -> DataFrame:
    """Fuzzy Match (inverted/query.rs MatchQuery.fuzziness): docs containing
    a token within ``fuzziness`` edit distance of the term. ``None`` picks
    the distance from the term length (query.rs:373 auto_fuzziness).
    ``transpositions=True`` (tantivy automaton default) uses Damerau
    distance — adjacent swaps cost one edit. The expansion runs against
    the token dictionary and is capped at ``max_expansions`` by
    (distance, token), exactly like the indexed ``fuzzy_query``."""
    q = MatchQuery(term, text_col, fuzziness=fuzziness, max_expansions=max_expansions)
    ids = _match_ids(_corpus(df, text_col, id_col), q, transpositions=transpositions)
    return ids.select(F.col("id").alias(id_col))


def multi_match(
    df: DataFrame,
    field_cols: list[str],
    id_col: str,
    query_terms: list[str],
    boosts: list[float] | None = None,
    k: int = 10,
) -> DataFrame:
    """MultiMatchQuery (rust/lance-index/src/scalar/inverted/query.rs:
    MultiMatchQuery): the same term set scored per field, combined as a
    boost-weighted sum (dis-max=false semantics). Each field gets its own
    postings/doclens statistics."""
    boosts = boosts or [1.0] * len(field_cols)
    if len(boosts) != len(field_cols):
        # zip would silently DROP trailing fields (recall change, not just
        # scoring) on a one-too-few boosts typo
        raise ValueError(
            f"boosts has {len(boosts)} entries for {len(field_cols)} fields"
        )
    combined = None
    for col, boost in zip(field_cols, boosts):
        # k=None: no per-field truncation, so combined ranking is exact
        s = bm25_search(df, col, id_col, query_terms, k=None).select(
            F.col(id_col), (F.col("_score") * boost).alias("_s")
        )
        combined = s if combined is None else combined.unionByName(s)
    return (
        combined.groupBy(id_col)
        .agg(F.round(F.sum("_s"), 4).alias("_score"))
        .orderBy(F.desc("_score"), F.asc(id_col))
        .limit(k)
    )


def boolean_search(
    df: DataFrame,
    text_col: str,
    id_col: str,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    k: int = 10,
) -> DataFrame:
    """Boolean query composition (BooleanQueryExec, fts.rs:904): must =
    intersect, should = scoring union, must_not = anti-join. BM25 stats
    come from the corpus restricted by must/must_not (``boolean_query``'s
    rule, not ``BooleanQuery``'s full-corpus stats)."""
    corpus = _corpus(df, text_col, id_col)
    scored = _restricted_boolean(corpus, text_col, must, should, must_not)
    return _topk(scored, k, id_col)
