"""Composable full-text query objects (the reference's structured FTS API).

Reference surface: python/python/lance/query.py:12-244 — ``MatchQuery``,
``PhraseQuery``, ``BoostQuery``, ``MultiMatchQuery``, ``BooleanQuery``,
the ``Occur``/``FullTextOperator`` enums, and ``&``/``|`` composition
(query.py:57-88). There the objects wrap a PyO3 ``PyFullTextQuery`` that
DataFusion executes (rust/lance-index/src/scalar/inverted/query.rs:75-597);
here each node compiles to a Spark plan over the same postings/doclens
tables the operator functions use, so a query tree is ONE composed
DataFrame — Catalyst sees the whole thing and the only corpus-sized work
is the query terms' postings rows.

Scoring semantics (mirrors query.rs / fts.rs):
  - Match: BM25 sum over terms; ``operator=AND`` keeps only docs matching
    every term; ``fuzziness`` expands terms against the token dictionary
    (capped at ``max_expansions``); ``boost`` scales the node's score.
  - Phrase: positional in-order match (slop-bounded), scored by BM25 of
    the phrase terms over matching docs.
  - Boost: positive.score - negative_boost * negative.score.
  - MultiMatch: per-column Match, boost-weighted sum.
  - Boolean: docs must match every MUST node and no MUST_NOT node;
    score = sum of MUST + SHOULD node scores (fts.rs:904).
  - q1 & q2 == BooleanQuery([(MUST, q1), (MUST, q2)]);
    q1 | q2 == BooleanQuery([(SHOULD, q1), (SHOULD, q2)]).
"""

from __future__ import annotations

import abc
from enum import Enum
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class FullTextQueryType(Enum):
    MATCH = "match"
    MATCH_PHRASE = "match_phrase"
    BOOST = "boost"
    MULTI_MATCH = "multi_match"
    BOOLEAN = "boolean"


class FullTextOperator(Enum):
    AND = "AND"
    OR = "OR"


class Occur(Enum):
    SHOULD = "SHOULD"
    MUST = "MUST"
    MUST_NOT = "MUST_NOT"


class FullTextQuery(abc.ABC):
    @abc.abstractmethod
    def query_type(self) -> FullTextQueryType: ...

    def __and__(self, other: "FullTextQuery") -> "FullTextQuery":
        return BooleanQuery([(Occur.MUST, self), (Occur.MUST, other)])

    def __or__(self, other: "FullTextQuery") -> "FullTextQuery":
        return BooleanQuery([(Occur.SHOULD, self), (Occur.SHOULD, other)])


def auto_fuzziness(token: str) -> int:
    """Length-based fuzzy distance used when ``fuzziness=None``
    (rust/lance-index/src/scalar/inverted/query.rs:373 auto_fuzziness):
    0 for terms of length <= 2, 1 for <= 5, 2 otherwise. The reference's
    ``token.len()`` is the BYTE length of the &str, so multi-byte tokens
    bucket by their UTF-8 size (a 3-char/9-byte CJK token gets 2 edits)."""
    n = len(token.encode("utf-8"))
    return 0 if n <= 2 else (1 if n <= 5 else 2)


class MatchQuery(FullTextQuery):
    def __init__(
        self,
        query: str,
        column: str | None = None,
        *,
        boost: float = 1.0,
        fuzziness: int | None = 0,
        max_expansions: int = 50,
        operator: FullTextOperator = FullTextOperator.OR,
        prefix_length: int = 0,
    ):
        self.query = query
        self.column = column
        self.boost = boost
        # None = automatic per-term distance (auto_fuzziness)
        self.fuzziness = fuzziness if fuzziness is None else int(fuzziness)
        self.max_expansions = max_expansions
        # coerce plain strings ('AND') like _match_from_json does — the
        # compiled `is FullTextOperator.AND` test would otherwise silently
        # degrade a string operator to OR semantics (r12 review fix)
        self.operator = (
            operator
            if isinstance(operator, FullTextOperator)
            else FullTextOperator(str(operator).upper())
        )
        self.prefix_length = prefix_length

    def query_type(self) -> FullTextQueryType:
        return FullTextQueryType.MATCH


class PhraseQuery(FullTextQuery):
    def __init__(self, query: str, column: str | None = None, *, slop: int = 0):
        self.query = query
        self.column = column
        self.slop = slop

    def query_type(self) -> FullTextQueryType:
        return FullTextQueryType.MATCH_PHRASE


class BoostQuery(FullTextQuery):
    def __init__(
        self,
        positive: FullTextQuery,
        negative: FullTextQuery,
        *,
        negative_boost: float = 0.5,
    ):
        self.positive = positive
        self.negative = negative
        self.negative_boost = negative_boost

    def query_type(self) -> FullTextQueryType:
        return FullTextQueryType.BOOST


class MultiMatchQuery(FullTextQuery):
    def __init__(
        self,
        query: str,
        columns: list[str],
        *,
        boosts: list[float] | None = None,
        operator: FullTextOperator = FullTextOperator.OR,
    ):
        self.query = query
        self.columns = list(columns)
        self.boosts = list(boosts) if boosts is not None else [1.0] * len(columns)
        if len(self.boosts) != len(self.columns):
            # zip() at compile time would silently drop unmatched trailing
            # columns from the search
            raise ValueError(
                f"boosts has {len(self.boosts)} entries for "
                f"{len(self.columns)} columns"
            )
        self.operator = operator

    def query_type(self) -> FullTextQueryType:
        return FullTextQueryType.MULTI_MATCH


class BooleanQuery(FullTextQuery):
    def __init__(self, queries: list[tuple[Occur, FullTextQuery]]):
        # coerce plain strings ('MUST') — the compiled `is Occur.MUST` tests
        # would otherwise silently DROP a string-keyed clause (r12 review)
        self.queries = [
            (o if isinstance(o, Occur) else Occur(str(o).upper()), s)
            for o, s in queries
        ]

    def query_type(self) -> FullTextQueryType:
        return FullTextQueryType.BOOLEAN


# ------------------------------------------------------------- JSON parser


def from_json(json_str: str) -> FullTextQuery:
    """Parse the reference's FTS JSON grammar into a query object
    (rust/lance-index/src/scalar/inverted/parser.rs:156-178): a single-key
    object ``{"match"|"phrase"|"boost"|"multi_match"|"boolean": {...}}``."""
    import json as _json

    value = _json.loads(json_str) if isinstance(json_str, str) else json_str
    return _from_json_value(value)


def _from_json_value(value) -> FullTextQuery:
    if not isinstance(value, dict) or len(value) != 1:
        raise ValueError("fts query must be a single-key JSON object")
    qtype, v = next(iter(value.items()))
    if qtype == "match":
        return _match_from_json(v)
    if qtype == "phrase":
        return PhraseQuery(v["terms"], v.get("column"), slop=int(v.get("slop", 0)))
    if qtype == "boost":
        return BoostQuery(
            _from_json_value(v["positive"]),
            _from_json_value(v["negative"]),
            negative_boost=float(v.get("negative_boost", 0.5)),
        )
    if qtype == "multi_match":
        matches = [_match_from_json(m) for m in v["match_queries"]]
        if not matches:
            raise ValueError("empty multi_match query")
        plain = all(
            m.query == matches[0].query
            and m.operator is matches[0].operator
            and m.fuzziness == 0
            and m.prefix_length == 0
            and m.max_expansions == 50
            for m in matches
        )
        if plain:
            # the MultiMatchQuery shape carries only query/columns/boosts/
            # operator — collapsing clauses that asked for fuzziness (or a
            # non-default operator mix) would silently drop those options
            return MultiMatchQuery(
                matches[0].query,
                [m.column for m in matches],
                boosts=[m.boost for m in matches],
                operator=matches[0].operator,
            )
        # heterogenous terms: reference models multi_match as a list of
        # MatchQuery anyway — a SHOULD-union scores identically
        return BooleanQuery([(Occur.SHOULD, m) for m in matches])
    if qtype == "boolean":
        clauses = [(Occur.MUST, _from_json_value(q)) for q in v.get("must", [])]
        clauses += [(Occur.SHOULD, _from_json_value(q)) for q in v.get("should", [])]
        clauses += [(Occur.MUST_NOT, _from_json_value(q)) for q in v.get("must_not", [])]
        return BooleanQuery(clauses)
    raise ValueError(f"unknown fts query type: {qtype!r}")


def _match_from_json(v) -> MatchQuery:
    fuzz = v.get("fuzziness", 0)
    # reference None/"auto" = per-term length-based distance (query.rs:373)
    fuzz = None if fuzz in (None, "auto") else int(fuzz)
    op = FullTextOperator(v.get("operator", "OR").upper())
    return MatchQuery(
        v["terms"],
        v.get("column"),
        boost=float(v.get("boost", 1.0)),
        fuzziness=fuzz,
        max_expansions=int(v.get("max_expansions", 50)),
        operator=op,
        prefix_length=int(v.get("prefix_length", 0)),
    )


# ---------------------------------------------------------------- compiler


class _Corpus:
    """Per-column postings/doclens provider with caching — the ONE place
    that chooses between INVERTED index tables and flat postings
    (``operators.fts.build_postings``, FlatMatchQueryExec's role). Backed
    by a LanceDataset (index tables when an INVERTED index covers the
    column, else flat postings over a column scan) or by a plain DataFrame.
    """

    def __init__(self, spark: SparkSession, ds=None, df: DataFrame | None = None,
                 id_col: str = "_rowid", default_column: str | None = None):
        self.spark = spark
        self.ds = ds
        self.df = df
        self.id_col = id_col
        self.default_column = default_column
        self._cache: dict[str, tuple[DataFrame, DataFrame, str]] = {}

    def _resolve(self, column: str | None) -> str:
        if column is not None:
            return column
        if self.default_column is not None:
            return self.default_column
        if self.ds is not None:
            for i in self.ds.manifest.indices:
                if i.index_type == "INVERTED":
                    return i.column
            for f in self.ds.manifest.schema_json["fields"]:
                if f["type"] == "string":
                    return f["name"]
        elif self.df is not None:
            for name, dtype in self.df.dtypes:
                if dtype == "string":
                    return name
        raise ValueError("no text column to search")

    def tables(self, column: str | None) -> tuple[DataFrame, DataFrame, str]:
        """(postings{token,id,tf,positions}, doclens{id,dl}, tokenizer)."""
        col = self._resolve(column)
        if col in self._cache:
            return self._cache[col]
        if self.ds is not None:
            from lance_spark.indexes.inverted import _find, _index_tables

            # only the INDEX LOOKUP may fall back to the flat pass: a
            # ValueError from reading a real index's tables is a fault to
            # surface, not an invitation to silently re-tokenize the corpus
            # with a possibly-different tokenizer
            try:
                meta = _find(self.ds, col)
            except ValueError:
                meta = None
            if meta is not None:
                postings, doclens = _index_tables(self.ds, self.spark, meta)
                self._cache[col] = (postings, doclens, meta.params.get("tokenizer", "simple"))
                return self._cache[col]
            df = self.ds.scanner(self.spark, columns=[col], with_row_id=True)
            id_col = "_rowid"
        else:
            df, id_col = self.df, self.id_col
        from lance_spark.operators.fts import build_postings

        self._cache[col] = (*build_postings(df, col, id_col), "simple")
        return self._cache[col]


def _query_terms(text: str, tok: str) -> list[str]:
    """Split query text into terms the way the INDEX tokenizer split the
    documents — 'state-of-the-art' must become four terms, or it matches
    nothing against postings that hold 'state','of','the','art'.
    ``query_split`` mirrors each tokenizer family's exact gap class
    (whitespace verbatim; unicode family keeps digits and unigrams CJK;
    the simple family splits on every non-[a-z] after the language fold).
    Per-language folding/stemming then happens in query_tokens. Every
    single-query surface (flat, indexed, structured) normalizes here."""
    from lance_spark.functions.text import query_split, query_tokens

    return query_tokens(query_split(text, tok), tok)


def _match_groups(corpus: _Corpus, q: MatchQuery, transpositions: bool = True):
    """The one term-group expansion of a MatchQuery → (postings, doclens,
    groups): a doc matches when it holds a token of EVERY group. OR is one
    group of all terms (fuzzy variants included); AND is one group per
    original term, so each must match via any of ITS variants. ``[[]]``
    matches nothing — no terms, or a required term with zero vocabulary
    expansions (dropping it would over-match)."""
    postings, doclens, tok = corpus.tables(q.column)
    terms = _query_terms(q.query, tok)
    if q.fuzziness is None or q.fuzziness:
        groups = _expand_fuzzy(postings, terms, q.fuzziness, q.prefix_length,
                               q.max_expansions, transpositions)
    else:
        groups = [[t] for t in terms]
    if q.operator is not FullTextOperator.AND:
        groups = [list(dict.fromkeys(v for g in groups for v in g))]
    return postings, doclens, groups if groups and all(groups) else [[]]


def _group_ids(postings: DataFrame, groups: list[list[str]]) -> DataFrame:
    ids = [postings.filter(F.col("token").isin(g)).select("id").distinct() for g in groups]
    return reduce(lambda a, b: a.join(b, "id", "left_semi"), ids)


def _match_scores(corpus: _Corpus, q: MatchQuery, transpositions: bool = True) -> DataFrame:
    from lance_spark.indexes.inverted import _bm25

    postings, doclens, groups = _match_groups(corpus, q, transpositions)
    scored = _bm25(postings, doclens, [t for g in groups for t in g])
    if len(groups) > 1:
        scored = scored.join(_group_ids(postings, groups), "id", "left_semi")
    if q.boost != 1.0:
        scored = scored.select("id", (F.col("_score") * q.boost).alias("_score"))
    return scored


def _match_ids(corpus: _Corpus, q: FullTextQuery, transpositions: bool = True) -> DataFrame:
    """Match SET of a query node — ids only, no scores. MUST_NOT clauses
    need membership, not ranking: compiling the full BM25 plan (doclens
    join, stats, aggregation) just to discard every score wastes a shuffle
    per anti clause. Match and Phrase compile to postings filters; other
    node types fall back to their scored plan's ids."""
    if isinstance(q, MatchQuery):
        postings, _, groups = _match_groups(corpus, q, transpositions)
        return _group_ids(postings, groups)
    if isinstance(q, PhraseQuery):
        return _phrase_ids(corpus, q)
    return _scores(corpus, q).select("id")


def _expand_fuzzy(postings, terms, fuzziness, prefix_length, max_expansions,
                  transpositions: bool = True):
    """Per-term expansion against the token DICTIONARY → one variant GROUP
    per original term (AND semantics need the grouping: each ORIGINAL term
    must match via any of ITS variants). Vocabulary-sized, capped in-plan
    per term before ONE collect (the per-term sequential jobs this
    replaces re-shuffled the full dictionary once per query term).
    Transposition-aware (Damerau) like tantivy's automaton default.
    ``fuzziness=None`` resolves per term from its length (auto_fuzziness —
    query.rs:373), so short terms stay exact instead of over-expanding."""
    from pyspark.sql import Window

    from lance_spark.indexes.inverted import _edit_distance_col

    groups: list[list[str]] = [[] for _ in terms]
    vocab = postings.select("token").distinct()
    frames = []
    for i, t in enumerate(terms):
        d = auto_fuzziness(t) if fuzziness is None else fuzziness
        if d == 0:
            groups[i].append(t)
            continue
        v = vocab
        if prefix_length > 0:
            v = v.filter(F.col("token").startswith(t[:prefix_length]))
        frames.append(
            v.select(
                F.lit(i).alias("__ti"), "token",
                _edit_distance_col(t, transpositions).alias("_d"),
            ).filter(F.col("_d") <= d)
        )
    if frames:
        allf = frames[0]
        for fdf in frames[1:]:
            allf = allf.unionByName(fdf)
        w = Window.partitionBy("__ti").orderBy("_d", "token")
        rows = (
            allf.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_expansions)
            .select("__ti", "token")
            .collect()
        )
        for r in rows:
            groups[r["__ti"]].append(r["token"])
    return groups


def _phrase_ids(corpus: _Corpus, q: PhraseQuery) -> DataFrame:
    """Match SET of a phrase node: the shared position walk (phrase_hits)
    over the corpus postings — index tables or flat, same code."""
    from lance_spark.indexes.inverted import phrase_hits

    postings, _, tok = corpus.tables(q.column)
    terms = _query_terms(q.query, tok)
    if not terms:
        return postings.select("id").limit(0)
    return phrase_hits(postings, terms, q.slop)


def _phrase_scores(corpus: _Corpus, q: PhraseQuery) -> DataFrame:
    from lance_spark.indexes.inverted import _bm25

    postings, doclens, tok = corpus.tables(q.column)
    # score with CORPUS-WIDE stats (idf/avgdl/n_docs) and then restrict to
    # the phrase hits: stats from only the matching docs made phrase scores
    # incomparable with Match scores in the same query tree (a 10-doc
    # phrase saw n_docs=10 and near-zero idf)
    scored = _bm25(postings, doclens, _query_terms(q.query, tok))
    return scored.join(_phrase_ids(corpus, q), "id", "left_semi")


def _restricted_boolean(
    corpus: _Corpus,
    column: str | None,
    must: list[str] | None,
    should: list[str] | None,
    must_not: list[str] | None,
) -> DataFrame:
    """Single-query boolean (BooleanQueryExec, fts.rs:904) → (id, _score):
    BM25 over should∪must with stats (n_docs, avgdl, df) from the corpus
    RESTRICTED to docs holding every must term and no must_not term — the
    rule the ``fts_boolean`` oracle pins. ``BooleanQuery`` instead scores
    with full-corpus stats."""
    from lance_spark.indexes.inverted import _bm25

    postings, doclens, tok = corpus.tables(column)
    must, should, must_not = (
        _query_terms(" ".join(ts or []), tok) for ts in (must, should, must_not)
    )
    keep = _group_ids(postings, [[t] for t in must]) if must else doclens.select("id")
    if must_not:
        keep = keep.join(_group_ids(postings, [must_not]), "id", "left_anti")
    return _bm25(
        postings.join(keep, "id", "left_semi"),
        doclens.join(keep, "id", "left_semi"),
        should + must,
    )


def _scores(corpus: _Corpus, q: FullTextQuery) -> DataFrame:
    """Compile a query node → DataFrame(id, _score). Membership in the
    output IS the node's match set."""
    if isinstance(q, MatchQuery):
        return _match_scores(corpus, q)
    if isinstance(q, PhraseQuery):
        return _phrase_scores(corpus, q)
    if isinstance(q, BoostQuery):
        pos = _scores(corpus, q.positive).withColumnRenamed("_score", "_p")
        neg = _scores(corpus, q.negative).withColumnRenamed("_score", "_n")
        return pos.join(neg, "id", "left_outer").select(
            "id",
            (F.col("_p") - F.lit(q.negative_boost) * F.coalesce("_n", F.lit(0.0))).alias("_score"),
        )
    if isinstance(q, MultiMatchQuery):
        parts = [
            _scores(corpus, MatchQuery(q.query, c, boost=b, operator=q.operator))
            for c, b in zip(q.columns, q.boosts)
        ]
        return reduce(DataFrame.unionByName, parts).groupBy("id").agg(F.sum("_score").alias("_score"))
    if isinstance(q, BooleanQuery):
        must = [s for o, s in q.queries if o is Occur.MUST]
        should = [s for o, s in q.queries if o is Occur.SHOULD]
        must_not = [s for o, s in q.queries if o is Occur.MUST_NOT]
        scoring = [_scores(corpus, s) for s in must + should]
        if not scoring:
            raise ValueError("BooleanQuery needs at least one MUST or SHOULD clause")
        out = reduce(DataFrame.unionByName, scoring).groupBy("id").agg(F.sum("_score").alias("_score"))
        for i, s in enumerate(must):
            out = out.join(scoring[i].select("id"), "id", "left_semi")
        for s in must_not:
            # membership only: full _scores would pay the BM25 doclens join
            # + aggregation just to discard every score (r12 efficiency fix)
            out = out.join(_match_ids(corpus, s), "id", "left_anti")
        return out
    raise TypeError(f"not a FullTextQuery: {type(q).__name__}")


def _topk(scored, k: int | None, id_col: str = "id"):
    """Deterministic top-k cut of (id, _score) → (``id_col``, _score):
    score rounded to 4 places, desc, then id asc. ``k=None`` returns ALL
    scored rows — callers that re-rank on a different tie column (e.g. the
    oracle's doc_id, which need not follow _rowid order after a shuffled
    write) cut after their own sort."""
    out = scored.select(
        F.col("id").alias(id_col), F.round("_score", 4).alias("_score")
    ).orderBy(F.desc("_score"), F.asc(id_col))
    return out if k is None else out.limit(k)


def execute_query(
    spark: SparkSession,
    query: FullTextQuery,
    *,
    ds=None,
    df: DataFrame | None = None,
    id_col: str = "_rowid",
    column: str | None = None,
    k: int = 10,
) -> DataFrame:
    """Run a structured query → (id, _score) top-k, deterministic ties."""
    if (ds is None) == (df is None):
        raise ValueError("pass exactly one of ds= or df=")
    corpus = _Corpus(spark, ds=ds, df=df, id_col=id_col, default_column=column)
    return _topk(_scores(corpus, query), k)
