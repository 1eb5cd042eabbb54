"""Structured FullTextQuery objects (lance_spark/query.py) must agree with
the operator functions they compile to, over both the flat path (plain
DataFrame) and the INVERTED-index path (LanceDataset).

Reference surface: python/python/lance/query.py:31-244.
"""

import pytest
from pyspark.sql import functions as F

from lance_spark.query import (
    BooleanQuery,
    BoostQuery,
    FullTextOperator,
    MatchQuery,
    MultiMatchQuery,
    Occur,
    PhraseQuery,
    execute_query,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def docs_ds(spark, sf_dir, tmp_path_factory):
    from lance_spark.dataset import dataset
    from lance_spark.indexes.inverted import create_inverted_index
    from lance_spark.write import write_dataset

    uri = str(tmp_path_factory.mktemp("qobj") / "docs")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    write_dataset(docs.repartition(2), uri, mode="create")
    return create_inverted_index(dataset(uri), spark, "text")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_match_equals_bm25_search(spark, docs):
    from lance_spark.operators.fts import bm25_search

    got = execute_query(
        spark, MatchQuery("table scan join", "text"), df=docs, id_col="doc_id", k=10
    )
    want = bm25_search(docs, "text", "doc_id", ["table", "scan", "join"], k=10)
    assert _rows(got) == _rows(want.select(F.col("doc_id").alias("id"), "_score"))


def test_match_and_operator_requires_all_terms(spark, docs):
    from lance_spark.functions.text import tokenize

    got = execute_query(
        spark,
        MatchQuery("table join", "text", operator=FullTextOperator.AND),
        df=docs,
        id_col="doc_id",
        k=None,
    )
    ids = {r["id"] for r in got.collect()}
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("t"))
    want = {
        r["doc_id"]
        for r in toks.filter(
            F.array_contains("t", "table") & F.array_contains("t", "join")
        ).collect()
    }
    assert ids == want and ids


def test_and_composition_is_boolean_must(spark, docs):
    q = MatchQuery("table", "text") & MatchQuery("join", "text")
    assert isinstance(q, BooleanQuery)
    assert [o for o, _ in q.queries] == [Occur.MUST, Occur.MUST]
    got = execute_query(spark, q, df=docs, id_col="doc_id", k=None)
    both = execute_query(
        spark,
        MatchQuery("table join", "text", operator=FullTextOperator.AND),
        df=docs,
        id_col="doc_id",
        k=None,
    )
    assert {r["id"] for r in got.collect()} == {r["id"] for r in both.collect()}


def test_or_composition_unions_match_sets(spark, docs):
    q = MatchQuery("checkpoint", "text") | MatchQuery("join", "text")
    got = {r["id"] for r in execute_query(spark, q, df=docs, id_col="doc_id", k=None).collect()}
    a = {r["id"] for r in execute_query(spark, MatchQuery("checkpoint", "text"), df=docs, id_col="doc_id", k=None).collect()}
    b = {r["id"] for r in execute_query(spark, MatchQuery("join", "text"), df=docs, id_col="doc_id", k=None).collect()}
    assert got == a | b


def test_boolean_must_not_excludes(spark, docs):
    q = BooleanQuery(
        [
            (Occur.MUST, MatchQuery("table", "text")),
            (Occur.MUST_NOT, MatchQuery("slow", "text")),
        ]
    )
    got = {r["id"] for r in execute_query(spark, q, df=docs, id_col="doc_id", k=None).collect()}
    slow = {r["id"] for r in execute_query(spark, MatchQuery("slow", "text"), df=docs, id_col="doc_id", k=None).collect()}
    has = {r["id"] for r in execute_query(spark, MatchQuery("table", "text"), df=docs, id_col="doc_id", k=None).collect()}
    assert got == has - slow and got


def test_boost_matches_operator_function(spark, docs_ds):
    from lance_spark.indexes.inverted import boost_query

    got = execute_query(
        spark,
        BoostQuery(
            MatchQuery("table scan", "text"),
            MatchQuery("slow", "text"),
            negative_boost=0.5,
        ),
        ds=docs_ds,
        k=5,
    )
    want = boost_query(docs_ds, spark, positive=["table", "scan"], negative=["slow"], k=5)
    assert _rows(got) == _rows(want)


def test_phrase_ids_match_phrase_query(spark, docs_ds):
    from lance_spark.indexes.inverted import phrase_query

    got = execute_query(spark, PhraseQuery("key order", "text"), ds=docs_ds, k=None)
    want_ids = {r["id"] for r in phrase_query(docs_ds, spark, "key order").collect()}
    assert {r["id"] for r in got.collect()} == want_ids and want_ids


def test_multi_match_two_columns(spark, docs):
    # score("table scan" over text)*1.0 + over title*2.0 == MultiMatchQuery
    from lance_spark.operators.fts import multi_match

    cols = [c for c in ("title", "text") if c in docs.columns]
    if len(cols) < 2:
        docs = docs.withColumn("title", F.substring("text", 1, 40))
        cols = ["title", "text"]
    got = execute_query(
        spark,
        MultiMatchQuery("table scan", cols, boosts=[2.0, 1.0]),
        df=docs,
        id_col="doc_id",
        k=8,
    )
    want = multi_match(docs, cols, "doc_id", ["table", "scan"], boosts=[2.0, 1.0], k=8)
    # multi_match rounds per-field scores before summing; the compiler sums
    # raw scores and rounds once — equal up to that last-digit rounding
    g, w = _rows(got), _rows(want.select(F.col("doc_id").alias("id"), "_score"))
    assert [i for i, _ in g] == [i for i, _ in w]
    assert all(abs(a - b) < 1e-3 for (_, a), (_, b) in zip(g, w))


def test_fuzzy_expansion(spark, docs):
    got = execute_query(
        spark,
        MatchQuery("tabl", "text", fuzziness=1),
        df=docs,
        id_col="doc_id",
        k=None,
    )
    exact = execute_query(spark, MatchQuery("table", "text"), df=docs, id_col="doc_id", k=None)
    assert {r["id"] for r in got.collect()} >= {r["id"] for r in exact.collect()}


def test_dataset_full_text_search_accepts_query_object(spark, docs_ds):
    out = docs_ds.full_text_search(
        spark, MatchQuery("table", "text") & MatchQuery("scan", "text"), k=5
    )
    rows = out.collect()
    assert rows and "_score" in out.columns and "text" in out.columns
    assert all(r["_score"] > 0 for r in rows)


def test_auto_fuzziness_schedule():
    """ADVICE r5: fuzziness=None resolves per term length (query.rs:373),
    not a hardcoded 2."""
    from lance_spark.query import auto_fuzziness

    assert auto_fuzziness("ab") == 0
    assert auto_fuzziness("tabl") == 1
    assert auto_fuzziness("tables") == 2


def test_match_auto_fuzziness_per_term(spark, docs):
    # 4-letter term: auto == explicit distance 1
    auto = execute_query(spark, MatchQuery("tabl", "text", fuzziness=None),
                         df=docs, id_col="doc_id", k=None)
    one = execute_query(spark, MatchQuery("tabl", "text", fuzziness=1),
                        df=docs, id_col="doc_id", k=None)
    assert {r["id"] for r in auto.collect()} == {r["id"] for r in one.collect()}
    # 2-letter term: auto stays EXACT (the over-expansion the advice flagged)
    short_auto = execute_query(spark, MatchQuery("of", "text", fuzziness=None),
                               df=docs, id_col="doc_id", k=None)
    short_exact = execute_query(spark, MatchQuery("of", "text", fuzziness=0),
                                df=docs, id_col="doc_id", k=None)
    assert ({r["id"] for r in short_auto.collect()}
            == {r["id"] for r in short_exact.collect()})


def test_from_json_auto_fuzziness():
    from lance_spark.query import from_json

    assert from_json('{"match": {"terms": "tabl", "fuzziness": "auto"}}').fuzziness is None
    assert from_json('{"match": {"terms": "tabl", "fuzziness": null}}').fuzziness is None
    assert from_json('{"match": {"terms": "tabl"}}').fuzziness == 0


class TestQueryReviewR11:
    """Pins for the r11 adversarial review of query.py."""

    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [
            (1, "hello world systems"),
            (2, "hello there"),
            (3, "world peace"),
            (4, "state-of-the-art scan"),
            (5, "Hello CasePreserved"),
        ]
        return spark.createDataFrame(rows, "id long, text string")

    def test_fuzzy_and_requires_each_original_term(self, spark, docs):
        from lance_spark.query import FullTextOperator, MatchQuery, execute_query

        q = MatchQuery("helo world", "text", fuzziness=1,
                       operator=FullTextOperator.AND)
        got = {r["id"] for r in execute_query(spark, q, df=docs, id_col="id").collect()}
        assert got == {1}  # hello AND world via variants — not empty

        # a required term with NO expansion matches nothing
        q2 = MatchQuery("hello zzzzqqqq", "text", fuzziness=1,
                        operator=FullTextOperator.AND)
        assert execute_query(spark, q2, df=docs, id_col="id").count() == 0

    def test_interior_punctuation_splits_like_index(self, spark, docs):
        from lance_spark.query import MatchQuery, PhraseQuery, execute_query

        got = {r["id"] for r in execute_query(
            spark, MatchQuery("state-of-the-art", "text"), df=docs, id_col="id"
        ).collect()}
        assert 4 in got
        ph = {r["id"] for r in execute_query(
            spark, PhraseQuery("state-of-the-art scan", "text"), df=docs, id_col="id"
        ).collect()}
        assert ph == {4}

    def test_phrase_scores_use_corpus_stats(self, spark, docs):
        from lance_spark.query import MatchQuery, PhraseQuery, execute_query

        m = {r["id"]: r["_score"] for r in execute_query(
            spark, MatchQuery("hello world", "text"), df=docs, id_col="id"
        ).collect()}
        p = {r["id"]: r["_score"] for r in execute_query(
            spark, PhraseQuery("hello world", "text"), df=docs, id_col="id"
        ).collect()}
        assert set(p) == {1}
        # same doc, same terms, same corpus → identical BM25 score scale
        assert p[1] == pytest.approx(m[1], abs=1e-4)

    def test_multimatch_boost_validation_and_json_fuzziness(self, spark):
        from lance_spark.query import MultiMatchQuery, from_json

        with pytest.raises(ValueError, match="boosts"):
            MultiMatchQuery("q", ["a", "b"], boosts=[1.0])
        q = from_json(
            '{"multi_match": {"match_queries": ['
            '{"terms": "helo", "column": "a", "fuzziness": 1},'
            '{"terms": "helo", "column": "b", "fuzziness": 1}]}}'
        )
        from lance_spark.query import BooleanQuery

        assert isinstance(q, BooleanQuery)  # fuzziness preserved per clause
        assert all(s.fuzziness == 1 for _, s in q.queries)


class TestQueryReviewR12:
    """Pins for the r12 adversarial review of query.py."""

    def test_unicode_tokenizer_digit_and_cjk_queries(self, spark, tmp_path):
        """_query_terms must mirror the 'unicode' index tokenizer: digits
        are token chars and CJK indexes as unigrams — the old ASCII split
        guaranteed misses for both."""
        from lance_spark.dataset import dataset
        from lance_spark.indexes.inverted import create_inverted_index, match_query
        from lance_spark.write import write_dataset

        df = spark.createDataFrame(
            [(1, "room 42 ready"), (2, "東京タワーの夜景"), (3, "plain text")],
            "id long, text string",
        )
        uri = str(tmp_path / "uni")
        write_dataset(df, uri)
        ds = create_inverted_index(dataset(uri), spark, "text", tokenizer="unicode")
        hits = execute_query(spark, MatchQuery("42", "text"), ds=ds, k=5)
        ids = {r["id"] for r in hits.join(
            ds.to_df(spark, with_row_id=True).select(F.col("_rowid").alias("id"), F.col("id").alias("doc")),
            "id").collect()}
        assert len(ids) == 1
        got = match_query(ds, spark, "東京", column="text", k=5).count()
        assert got == 1  # unigram mirror: 東京 → [東, 京] hits doc 2

    def test_simple_tokenizer_non_ascii_separators(self, spark, docs):
        """'state—of' (em dash) and 'naïve' must split the way the simple
        tokenizer split the documents."""
        from lance_spark.functions.text import query_split

        assert query_split("state—of", "simple") == ["state", "of"]
        assert query_split("naïve", "simple") == ["na", "ve"]
        assert query_split("room 42", "unicode") == ["room", "42"]

    def test_match_operator_string_coerces(self, spark, docs):
        and_str = execute_query(
            spark, MatchQuery("table scan", "text", operator="AND"),
            df=docs, id_col="doc_id", k=None,
        )
        and_enum = execute_query(
            spark, MatchQuery("table scan", "text", operator=FullTextOperator.AND),
            df=docs, id_col="doc_id", k=None,
        )
        assert sorted(r["id"] for r in and_str.collect()) == sorted(
            r["id"] for r in and_enum.collect()
        )
        with pytest.raises(ValueError):
            MatchQuery("x", "text", operator="NAND")

    def test_boolean_occur_string_coerces(self, spark, docs):
        q_str = BooleanQuery(
            [("MUST", MatchQuery("table", "text")),
             ("must_not", MatchQuery("error", "text"))]
        )
        q_enum = BooleanQuery(
            [(Occur.MUST, MatchQuery("table", "text")),
             (Occur.MUST_NOT, MatchQuery("error", "text"))]
        )
        a = sorted(r["id"] for r in execute_query(
            spark, q_str, df=docs, id_col="doc_id", k=None).collect())
        b = sorted(r["id"] for r in execute_query(
            spark, q_enum, df=docs, id_col="doc_id", k=None).collect())
        assert a == b and a

    def test_string_id_corpus_empty_term_composition(self, spark):
        """A clause whose terms all normalize away must produce an empty
        frame TYPED like the corpus ids — the hardcoded 'id long' broke
        unions over string-id corpora."""
        df = spark.createDataFrame(
            [("a", "spark engine"), ("b", "query planner")], "doc string, text string"
        )
        q = BooleanQuery(
            [(Occur.SHOULD, MatchQuery("engine", "text")),
             (Occur.SHOULD, MatchQuery("!!!", "text"))]  # normalizes to zero terms
        )
        got = execute_query(spark, q, df=df, id_col="doc", k=5).collect()
        assert [r["id"] for r in got] == ["a"]


def test_flat_queries_leave_no_persisted_rdds(spark):
    """Flat postings are a plain JVM plan: no query call may leave a
    cached or checkpointed RDD behind on the executors."""
    from lance_spark.operators.fts import bm25_search, fuzzy_match, phrase_match

    df = spark.createDataFrame(
        [(1, "quick brown fox"), (2, "quick red fox jumps"), (3, "lazy brown dog")],
        "id long, text string",
    )
    calls = {
        "execute_query match": lambda: execute_query(
            spark, MatchQuery("quick fox", "text"), df=df, id_col="id"),
        "execute_query phrase": lambda: execute_query(
            spark, PhraseQuery("quick fox", "text", slop=1), df=df, id_col="id"),
        "bm25_search": lambda: bm25_search(df, "text", "id", ["fox"]),
        "phrase_match": lambda: phrase_match(df, "text", "id", "quick fox", slop=1),
        "fuzzy_match": lambda: fuzzy_match(df, "text", "id", "fxo"),
    }
    jsc = spark.sparkContext._jsc
    for name, call in calls.items():
        before = set(jsc.getPersistentRDDs().keys())
        assert call().collect(), name
        assert set(jsc.getPersistentRDDs().keys()) <= before, name
