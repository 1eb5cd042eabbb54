"""Operator-level tests: dedup / knn / fts / text functions.

Mirrors the reference's oracle style (test_filter.py pyarrow-compute oracle,
test_vector_index.py recall-vs-bruteforce): here small hand-built inputs
with known answers.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(id=1, text="the quick brown fox jumps over the lazy dog", src="a"),
        Row(id=2, text="the quick brown fox jumps over the lazy dog today", src="a"),  # near-dup of 1
        Row(id=3, text="THE QUICK  BROWN FOX jumps over the lazy dog", src="b"),  # exact dup of 1 (canonical)
        Row(id=4, text="completely different content about spark engines and their many optimizers", src="a"),
        Row(id=5, text="spark table scan join merge data", src="b"),
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup(spark, docs):
    from lance_spark.operators.dedup import exact_dedup

    kept = exact_dedup(docs, "text", "id")
    ids = {r.id for r in kept.collect()}
    assert 1 in ids and 3 not in ids  # canonical dup of 1 removed, keeper = min id
    assert ids == {1, 2, 4, 5}


def test_minhash_near_dup(spark, docs):
    from lance_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, "text", "id", min_est_jaccard=0.5).collect()}
    assert (1, 3) in pairs  # identical canonical text → jaccard 1.0
    assert (1, 2) in pairs or (2, 3) in pairs  # near-dup caught
    assert not any(4 in p or 5 in p for p in pairs)


def test_ngram_jaccard(spark, docs):
    from lance_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "text", "id", "src", min_jaccard=0.5).collect()
    }
    assert (1, 2) in pairs  # same bucket 'a', high overlap
    assert pairs[(1, 2)] > 0.6


def test_simhash_pairs(spark, docs):
    from lance_spark.operators.dedup import simhash_pairs, simhash_signatures

    sigs = {r.id: r.simhash for r in simhash_signatures(docs, "text", "id").collect()}
    assert sigs[1] == sigs[3]  # canonicalized identical text → same signature
    pairs = {(r.id_a, r.id_b) for r in simhash_pairs(docs, "text", "id", max_hamming=3).collect()}
    assert (1, 3) in pairs


def test_simhash_pairs_capped_keeps_hamming_smallest(spark, sf_dir):
    """max_pairs mode must return exactly the N (hamming, id_a, id_b)-
    smallest pairs of the uncapped output — the per-bucket top-N slice is
    provably exact for the global top-N."""
    from lance_spark.operators.dedup import simhash_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(400)
    full = sorted(
        ((r.hamming, r.id_a, r.id_b) for r in
         simhash_pairs(docs, "text", "doc_id").collect())
    )
    n = 20
    capped = [(r.hamming, r.id_a, r.id_b) for r in
              simhash_pairs(docs, "text", "doc_id", max_pairs=n).collect()]
    assert len(full) > n  # the cap is actually binding
    assert sorted(capped) == full[:n]


def test_simhash_pairs_summary_mode(spark, docs):
    from lance_spark.operators.dedup import simhash_pairs

    full = simhash_pairs(docs, "text", "id").count()
    row = simhash_pairs(docs, "text", "id", summary=True).collect()[0]
    assert row["n_pairs"] == full
    assert row["avg_hamming"] is not None


def test_minhash_pairs_capped_matches_uncapped_top(spark, sf_dir):
    from lance_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(400)
    full = sorted(
        ((-r.est_jaccard, r.id_a, r.id_b) for r in
         minhash_lsh_pairs(docs, "text", "doc_id", min_est_jaccard=0.5).collect())
    )
    n = 15
    capped = [(-r.est_jaccard, r.id_a, r.id_b) for r in
              minhash_lsh_pairs(docs, "text", "doc_id", min_est_jaccard=0.5,
                                max_pairs=n).collect()]
    assert len(full) > n
    assert sorted(capped) == full[:n]
    row = minhash_lsh_pairs(docs, "text", "doc_id", min_est_jaccard=0.5,
                            summary=True).collect()[0]
    assert row["n_pairs"] == len(full)


def test_knn_bruteforce_cosine(spark):
    from lance_spark.operators.knn import knn_bruteforce

    rows = [
        Row(vec_id=0, v=[1.0, 0.0, 0.0]),
        Row(vec_id=1, v=[0.9, 0.1, 0.0]),
        Row(vec_id=2, v=[0.0, 1.0, 0.0]),
        Row(vec_id=3, v=[-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    out = knn_bruteforce(df, "v", [1.0, 0.0, 0.0], k=2, metric="cosine").collect()
    assert [r.vec_id for r in out] == [0, 1]
    assert out[0]["_distance"] == pytest.approx(0.0, abs=1e-12)


def test_knn_l2_and_dot(spark):
    from lance_spark.operators.knn import knn_bruteforce

    rows = [Row(vec_id=i, v=[float(i), 0.0]) for i in range(5)]
    df = spark.createDataFrame(rows)
    out = knn_bruteforce(df, "v", [2.1, 0.0], k=2, metric="l2").collect()
    assert [r.vec_id for r in out] == [2, 3]
    out = knn_bruteforce(df, "v", [1.0, 0.0], k=1, metric="dot").collect()
    assert out[0].vec_id == 4  # max dot product


def test_bm25_ranking(spark, docs):
    from lance_spark.operators.fts import bm25_search

    out = bm25_search(docs, "text", "id", ["spark"], k=3).collect()
    ids = [r.id for r in out]
    assert set(ids) == {4, 5}
    # doc 5 is shorter → higher bm25 for same tf
    assert ids[0] == 5


def test_phrase_and_boolean(spark, docs):
    from lance_spark.operators.fts import boolean_search, phrase_match

    hits = {r.id for r in phrase_match(docs, "text", "id", "quick brown fox").collect()}
    assert hits == {1, 2, 3}
    assert phrase_match(docs, "text", "id", "fox brown").count() == 0  # order matters
    out = boolean_search(docs, "text", "id", must=["spark"], must_not=["engines"]).collect()
    assert {r.id for r in out} == {5}


def test_text_functions(spark):
    from lance_spark.functions.text import (
        contains_tokens,
        fingerprint,
        lang_id,
        punct_ratio,
        quality_score,
        token_count,
    )

    df = spark.createDataFrame(
        [
            Row(id=1, t="The quick, brown fox!"),
            Row(id=2, t="el la de que y los amigos"),
            Row(id=3, t="zzz qqq xxx"),
        ]
    )
    got = df.select(
        "id",
        token_count("t").alias("n"),
        lang_id("t").alias("lang"),
        F.round(punct_ratio("t"), 3).alias("punct"),
        fingerprint("t").alias("fp"),
        contains_tokens("t", "FOX").alias("has_fox"),
    ).collect()
    by_id = {r.id: r for r in got}
    assert by_id[1].n == 4
    assert by_id[1].lang == "en"
    assert by_id[2].lang == "es"
    assert by_id[3].lang == "und"
    assert by_id[1].has_fox is True
    assert by_id[2].has_fox is False
    # fingerprint is canonicalization-invariant
    df2 = spark.createDataFrame([Row(id=1, t="the QUICK brown... fox")])
    fp2 = df2.select(fingerprint("t").alias("fp")).first().fp
    assert fp2 == by_id[1].fp


def test_embedding_neardup(spark):
    from lance_spark.operators.dedup import embedding_neardup_pairs

    rows = [
        Row(id=1, v=[1.0, 0.0]),
        Row(id=2, v=[0.99, 0.01]),
        Row(id=3, v=[0.0, 1.0]),
    ]
    out = embedding_neardup_pairs(spark.createDataFrame(rows), "v", "id", min_cosine=0.9).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}


def test_knn_hamming(spark):
    from lance_spark.operators.knn import knn_bruteforce

    rows = [(i, [int(b) for b in format(i, "08b")]) for i in range(64)]
    df = spark.createDataFrame(rows, "id long, bits array<long>")
    got = knn_bruteforce(df, "bits", [0] * 8, k=4, metric="hamming", id_col="id").collect()
    # nearest to 0b00000000: 0 (d=0) then single-bit codes 1,2,4 (d=1, id order)
    assert [(r["id"], r["_distance"]) for r in got] == [(0, 0.0), (1, 1.0), (2, 1.0), (4, 1.0)]


def test_lsh_hot_bucket_guard(spark):
    """A degenerate near-constant corpus floods one LSH bucket; the guard
    skips it (bounding task memory) while pairs in healthy buckets survive."""
    from lance_spark.operators.dedup import minhash_lsh_pairs, oversized_lsh_buckets

    hot = [(i, "the same exact sentence repeated everywhere forever always") for i in range(300)]
    healthy = [
        (1000, "a perfectly normal unique document about spark query planning"),
        (1001, "a perfectly normal unique document about spark query planning today"),
        (2000, "completely unrelated text mentioning volcanoes and geology"),
    ]
    df = spark.createDataFrame(hot + healthy, ["id", "text"])

    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, "text", "id", max_bucket_size=100).collect()
    }
    assert (1000, 1001) in pairs          # healthy bucket unaffected
    assert not any(a < 300 and b < 300 for a, b in pairs)  # hot bucket skipped

    # guard off → the degenerate pairs come back (still small enough here)
    pairs_all = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, "text", "id", max_bucket_size=None).collect()
    }
    assert any(a < 300 and b < 300 for a, b in pairs_all)
    assert (1000, 1001) in pairs_all


def test_oversized_bucket_observability(spark):
    from lance_spark.operators.dedup import (
        MINHASH_BANDS, MINHASH_PERMS, minhash_signatures_agg, oversized_lsh_buckets,
    )
    from pyspark.sql import functions as F

    hot = [(i, "the same exact sentence repeated everywhere forever always") for i in range(50)]
    df = spark.createDataFrame(hot, ["id", "text"])
    rows_per_band = MINHASH_PERMS // MINHASH_BANDS
    sigs = minhash_signatures_agg(df, "text", "id")
    banded = sigs.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.concat_ws(",", *[
                        F.element_at("sig", b * rows_per_band + r + 1) for r in range(rows_per_band)
                    ]).alias("band_key"),
                )
                for b in range(MINHASH_BANDS)
            ])
        ).alias("band"),
    ).select("id", "band.band_id", "band.band_key")
    over = oversized_lsh_buckets(banded, max_bucket_size=10).collect()
    assert len(over) == MINHASH_BANDS and all(r.n == 50 for r in over)


def test_chunk_documents_windows(spark):
    from lance_spark.operators.curation import chunk_documents

    import string

    words = [f"w{a}{b}" for a in string.ascii_lowercase[:5] for b in string.ascii_lowercase[:5]]
    text = " ".join(words)  # 25 distinct letter-only tokens
    df = spark.createDataFrame([(1, text), (2, "only three words"), (3, "")], ["id", "text"])
    ch = chunk_documents(df, "text", "id", chunk_tokens=10, overlap=2).collect()
    by_doc = {}
    for r in ch:
        by_doc.setdefault(r["id"], []).append(r)
    # doc 1: starts at 0, 8, 16 -> sizes 10, 10, 9. A start at 24 would
    # emit token 25 alone — fully contained in the start-16 chunk (pure
    # overlap tail), i.e. duplicated training text — so it must NOT appear;
    # every token is still covered (chunk 16 spans through token 25).
    d1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["n_tokens"] for r in d1] == [10, 10, 9]
    assert d1[0]["chunk_text"].startswith(f"{words[0]} ")
    assert d1[1]["chunk_text"].startswith(f"{words[8]} ")
    # overlap: chunk 1 starts at token 8, which chunk 0 also contains
    assert words[8] in d1[0]["chunk_text"]
    assert [r["n_tokens"] for r in by_doc[2]] == [3]
    assert 3 not in by_doc  # empty doc emits nothing


def test_cap_per_group_deterministic(spark):
    from lance_spark.operators.curation import cap_per_group

    rows = [(i, "g", 1.0 if i < 6 else 0.5) for i in range(10)]
    df = spark.createDataFrame(rows, ["id", "grp", "score"])
    kept = sorted(r["id"] for r in cap_per_group(df, "grp", "score", 4, "id").collect())
    assert kept == [0, 1, 2, 3]  # ties broken by ascending id


def test_repetition_ratio_extremes(spark):
    from lance_spark.operators.curation import repetition_ratio
    from lance_spark.functions.text import tokenize
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam"), (2, "all words here are unique"), (3, "one")],
        ["id", "text"],
    )
    out = {
        r["id"]: r["r"]
        for r in df.select(
            "id", tokenize(F.col("text")).alias("__toks")
        ).select("id", repetition_ratio(F.col("__toks")).alias("r")).collect()
    }
    assert out[1] == 0.75  # 4 bigrams, 1 distinct
    assert out[2] == 0.0
    assert out[3] == 0.0


def test_redact_pii(spark):
    from lance_spark.operators.curation import pii_counts, redact_pii
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "mail me at bob.smith+x@corp.example.org or call 555-0199 now")],
        ["id", "text"],
    )
    r = df.select(
        redact_pii(F.col("text")).alias("red"),
        *[c.alias(n) for c, n in zip(pii_counts(F.col("text")), ("ne", "np"))],
    ).first()
    assert r["red"] == "mail me at [EMAIL] or call [PHONE] now"
    assert (r["ne"], r["np"]) == (1, 1)


def test_stratified_sample_deterministic(spark):
    from lance_spark.operators.curation import stratified_sample

    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(2000)]
    df = spark.createDataFrame(rows, ["id", "lang"])
    kept1 = {r["id"] for r in stratified_sample(df, "id", {"en": 0.3}, "lang").collect()}
    kept2 = {r["id"] for r in stratified_sample(df, "id", {"en": 0.3}, "lang").collect()}
    assert kept1 == kept2  # reproducible, not rand()
    fr = {i for i, l in rows if l == "fr"}
    assert fr <= kept1  # unlisted groups keep everything
    en_kept = len(kept1 - fr)
    assert 200 <= en_kept <= 400  # ~30% of 1000, hash-uniform

    # NULL group = unlisted -> kept (a bare ~isin would drop it)
    import pyspark.sql.functions as _F

    withnull = df.withColumn("lang", _F.when(_F.col("id") == 0, None).otherwise(_F.col("lang")))
    kept3 = {r["id"] for r in stratified_sample(withnull, "id", {"en": 0.3}, "lang").collect()}
    assert 0 in kept3


def test_connected_components_transitivity(spark):
    from lance_spark.operators.dedup import connected_components

    # two chains (1-2-3-4, 10-11) + singleton 99: min label must cross
    # multiple hops, not just direct edges
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 99)], ["id"])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    got = {
        (r["id"], r["cluster_id"])
        for r in connected_components(nodes, pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (99, 99)}


def test_duplicate_clusters_canonical(spark):
    from lance_spark.operators.dedup import duplicate_clusters

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, text, "s"),
        (2, text + " tail", "s"),          # near-dup of 1
        (3, text + " tail more", "s"),     # near-dup of 2 (and transitively 1)
        (4, "totally different words here with no overlap at all ok", "s"),
    ]
    df = spark.createDataFrame(rows, ["id", "text", "source"])
    out = {r["id"]: (r["cluster_id"], r["is_canonical"])
           for r in duplicate_clusters(df, "text", "id", "source", min_jaccard=0.4).collect()}
    assert out[1] == (1, True)
    assert out[2][0] == 1 and not out[2][1]
    assert out[3][0] == 1 and not out[3][1]
    assert out[4] == (4, True)
    # every input id appears exactly once
    assert set(out) == {1, 2, 3, 4}


def test_decontaminate_ratio(spark):
    from lance_spark.operators.curation import decontaminate

    train = spark.createDataFrame(
        [
            (1, "one two three four five six seven eight"),   # 50% of its 3-grams in eval
            (2, "totally unrelated text with zero overlap here"),
            (3, "ab"),                                        # too short for a 3-gram
        ],
        ["id", "text"],
    )
    ev = spark.createDataFrame([(100, "one two three four five")], ["id", "text"])
    got = {r["id"]: (r["overlap_ratio"], r["contaminated"])
           for r in decontaminate(train, ev, "text", "id", threshold=0.4).collect()}
    # doc 1: 6 distinct 3-grams, eval contributes 3 -> 0.5
    assert got[1] == (0.5, True)
    assert got[2] == (0.0, False)
    assert got[3] == (0.0, False)


def test_unigram_vocab_broadcast_gate(spark):
    """The vocab broadcast is count-gated: a degenerate high-cardinality
    vocabulary (every token unique) must take the shuffle-join fallback and
    produce IDENTICAL scores to the broadcast path."""
    from lance_spark.operators.curation import unigram_logprob_score

    rows = [(i, f"tok{i}a tok{i}b shared") for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "text"])
    bcast = {r["id"]: (r["n_tokens"], r["avg_logprob"])
             for r in unigram_logprob_score(df, "text", "id").collect()}
    # 401 distinct tokens > limit of 10 -> shuffle-hash fallback
    shuf = {r["id"]: (r["n_tokens"], r["avg_logprob"])
            for r in unigram_logprob_score(df, "text", "id", broadcast_vocab_limit=10).collect()}
    assert bcast == shuf and len(bcast) == 200
    assert all(n >= 3 and lp > 0 for n, lp in bcast.values())


def test_incremental_fingerprint_index_lifecycle(spark, sf_dir, tmp_path):
    """Snapshot N dedups against the index, survivors' fingerprints append,
    snapshot N+1 then collides with snapshot N's survivors too — the
    accumulated-corpus contract."""
    from pyspark.sql import functions as F

    from lance_spark.operators.dedup import (
        build_fingerprint_index,
        dedup_against_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    corpus = docs.select(F.col("doc_id").alias("id"), "text")
    uri = str(tmp_path / "fps")
    idx = build_fingerprint_index(corpus, "text", "id", uri)

    fresh = docs.limit(5).select(
        (F.col("doc_id") + 1000).alias("id"),
        F.concat_ws(" ", *[F.concat(F.lit(f"zz{c}"), F.col("doc_id").cast("string"))
                           for c in "abcdef"]).alias("text"),
    )
    dup_of_corpus = docs.limit(5).select(
        (F.col("doc_id") + 2000).alias("id"), F.upper("text").alias("text")
    )
    snap1 = fresh.unionByName(dup_of_corpus)
    kept1 = dedup_against_index(snap1, "text", "id", idx, spark)
    ids1 = {r["id"] for r in kept1.collect()}
    assert ids1 == {r["id"] for r in fresh.collect()}  # dups dropped, fresh kept

    # append survivors' fingerprints; a re-send of the same fresh docs now dies
    idx2 = build_fingerprint_index(kept1, "text", "id", uri, mode="append")
    resend = fresh.withColumn("id", F.col("id") + 9000)
    kept2 = dedup_against_index(resend, "text", "id", idx2, spark)
    assert kept2.count() == 0

    # mode flags: exact-only lets near-dups through
    near = docs.limit(3).select(
        (F.col("doc_id") + 3000).alias("id"),
        F.concat(F.col("text"), F.lit(" tiny tail")).alias("text"),
    )
    assert dedup_against_index(near, "text", "id", idx2, spark,
                               near=False).count() == 3
    assert dedup_against_index(near, "text", "id", idx2, spark).count() == 0


def test_c4_quality_line_and_page_rules(spark):
    from lance_spark.operators.curation import c4_quality

    rows = [
        # 3 good sentences -> kept page, tiny/unpunctuated lines dropped
        (1, "here is the first proper sentence today.\nshort one\n"
            "the second proper sentence arrives right now.\n"
            "and a third proper sentence closes things out."),
        # javascript line dropped -> only 2 kept sentences -> page dropped
        (2, "here is the first proper sentence today.\n"
            "this javascript line would otherwise be kept fine.\n"
            "the second proper sentence arrives right now."),
        # lorem ipsum anywhere kills the page even with 3 good lines
        (3, "here is the first proper sentence today.\n"
            "the second proper sentence arrives right now.\n"
            "and lorem ipsum appears inside this final sentence."),
        # curly brace kills the page
        (4, "here is the first proper sentence today.\n"
            "the second { proper sentence arrives right now.\n"
            "and a third proper sentence closes things out."),
        # no terminal punctuation at all -> zero kept lines
        (5, "no punctuation here at all\nnor here either"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in c4_quality(df, "text", "id").collect()}
    assert out[1]["c4_keep"] and out[1]["n_kept"] == 3 and out[1]["n_lines"] == 4
    assert not out[2]["c4_keep"] and out[2]["n_kept"] == 2
    assert not out[3]["r_lorem"] and not out[3]["c4_keep"]
    assert not out[4]["r_brace"] and not out[4]["c4_keep"]
    assert out[5]["n_kept"] == 0 and not out[5]["c4_keep"]
    # clean_text is the kept lines rejoined
    assert out[1]["clean_text"].count("\n") == 2
    assert "short one" not in out[1]["clean_text"]


def test_bigram_logprob_semantics(spark):
    """Repetitive text scores LOWER (-ln p) than novel-transition text of
    the same corpus, and short docs report no bigrams."""
    from lance_spark.operators.curation import bigram_logprob_score

    rows = [
        (1, "a b a b a b a b a b a b"),       # one dominant transition
        (2, "c d e f g h i j k l m n"),       # all transitions unique
        (3, "x"),                              # too short
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in bigram_logprob_score(df, "text", "id").collect()}
    assert 3 not in out                       # <2 tokens -> no row
    assert out[1]["n_bigrams"] == 11 and out[2]["n_bigrams"] == 11
    assert out[1]["avg_logprob"] < out[2]["avg_logprob"]


class TestSubstringSpans:
    """substring_duplicate_spans (Lee et al. 2022 span-level dedup with
    content-defined, alignment-robust window anchoring)."""

    def _spans(self, spark, rows, **kw):
        from lance_spark.operators.dedup import substring_duplicate_spans

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = substring_duplicate_spans(df, "text", "doc_id", **kw)
        return sorted(
            (r["id"], r["span_start"], r["span_len"]) for r in out.collect()
        )

    def test_shared_passage_found_at_any_alignment(self, spark):
        # the passage sits at byte offsets 23 and 32 — offsets differing by
        # a NON-multiple of any stride, the case fixed-stride windows miss
        boiler = (
            "All rights reserved under the international "
            "copyright conventions that apply here today."
        )
        rows = [
            (1, "unique alpha text one. " + boiler + " tail text for doc one."),
            (2, "totally different beta opening. " + boiler + " other ending."),
            (3, "no shared content in this document at all, nothing repeats."),
        ]
        spans = self._spans(spark, rows, window=20, every=1)
        ids = {s[0] for s in spans}
        assert 1 in ids and 2 in ids and 3 not in ids
        # every reported span must lie inside the shared region
        for doc_id, start, length in spans:
            text = rows[doc_id - 1][1]
            assert boiler.find(text[start - 1 : start - 1 + length]) >= 0

    def test_within_doc_repeat_not_flagged(self, spark):
        chunk = "repeated inner chunk of text goes here padding padding."
        rows = [
            (1, chunk + " middle filler words. " + chunk),
            (2, "entirely unrelated second document body with no repeats."),
        ]
        assert self._spans(spark, rows, window=20, every=1) == []

    def test_adjacent_windows_merge_into_one_span(self, spark):
        shared = " ".join(["shared span core words here"] * 8)
        rows = [(1, "AAA " + shared + " BBB"), (2, "CC DD " + shared + " EE")]
        spans = self._spans(spark, rows, window=20, every=1)
        assert len([s for s in spans if s[0] == 1]) == 1
        assert len([s for s in spans if s[0] == 2]) == 1
        assert all(s[2] >= len(shared) - 40 for s in spans)

    def test_sampling_selects_by_content_not_position(self, spark):
        # with every=4 only hash%4==0 windows survive — but the SAME
        # windows survive in both docs, so detection still works on a
        # long-enough shared region
        words = [f"token{i}word" for i in range(40)]
        boiler = " ".join(words)  # 40 distinct anchors -> ~10 sampled
        rows = [
            (1, "x " + boiler + " suffix one two"),
            (2, "yyyyy zz " + boiler + " trailer"),
        ]
        spans = self._spans(spark, rows, window=20, every=4)
        assert {s[0] for s in spans} == {1, 2}

    def test_short_docs_skipped(self, spark):
        rows = [(1, "tiny"), (2, "tiny")]
        assert self._spans(spark, rows, window=20, every=1) == []

    def test_multi_megabyte_documents(self, spark):
        # book/code-corpus sized rows: the tiled anchor enumeration keeps
        # the per-row transient block-sized instead of the ~8 bytes/char
        # dense sequence() array (VERDICT r8 #2); this doc is ~3 MB, which
        # under the old expression allocated a ~24 MB int array per row
        import random

        rng = random.Random(7)
        filler1 = " ".join(f"w{rng.randrange(10**9)}" for _ in range(200_000))
        filler2 = " ".join(f"v{rng.randrange(10**9)}" for _ in range(200_000))
        boiler = (
            "this exact licensed paragraph is repeated verbatim across both "
            "large documents and must be recovered as one duplicated span"
        )
        rows = [
            (1, filler1[: 2**21] + " " + boiler + " " + filler1[: 2**20]),
            (2, filler2[: 2**21 - 317] + " " + boiler + " " + filler2[: 2**20]),
        ]
        spans = self._spans(spark, rows, window=30, every=1)
        assert {s[0] for s in spans} == {1, 2}
        for doc_id, start, length in spans:
            text = rows[doc_id - 1][1]
            assert boiler.find(text[start - 1 : start - 1 + length]) >= 0


class TestContaminationSpans:
    """contamination_spans (span-level eval-set decontamination: broadcast
    eval window hashes, alignment-robust content-defined anchoring)."""

    def _spans(self, spark, train_rows, eval_texts, **kw):
        from lance_spark.operators.curation import contamination_spans

        train = spark.createDataFrame(train_rows, ["doc_id", "text"])
        ev = spark.createDataFrame([(t,) for t in eval_texts], "text string")
        out = contamination_spans(train, ev, "text", "doc_id", **kw)
        return sorted(
            (r["id"], r["span_start"], r["span_len"]) for r in out.collect()
        )

    def test_quoted_benchmark_passage_located(self, spark):
        bench = (
            "What is the capital of France? Paris is the capital and "
            "largest city of France by population."
        )
        rows = [
            (1, "intro words then the leak: " + bench + " and commentary."),
            (2, "a perfectly clean training document with original prose."),
        ]
        spans = self._spans(spark, rows, [bench], window=20, every=1)
        assert {s[0] for s in spans} == {1}
        # the reported span must lie inside the quoted region
        start, length = spans[0][1], spans[0][2]
        assert bench.find(rows[0][1][start - 1 : start - 1 + length]) >= 0

    def test_alignment_invariance(self, spark):
        # same eval passage at byte offsets differing by a non-multiple of
        # any fixed stride — both docs must be flagged
        bench = "the quick brown fox jumps over the lazy dog every single time"
        rows = [
            (1, "ab " + bench + " tail"),
            (2, "abcdefg hi " + bench + " other tail"),
        ]
        spans = self._spans(spark, rows, [bench], window=20, every=1)
        assert {s[0] for s in spans} == {1, 2}

    def test_eval_only_match_requires_eval_text(self, spark):
        # two train docs sharing text NOT in the eval set are clean —
        # unlike substring_duplicate_spans, the self-join case must NOT fire
        shared = "training corpora repeat boilerplate that is not benchmark"
        rows = [(1, "x " + shared), (2, "yy " + shared)]
        assert self._spans(spark, rows, ["unrelated eval data"], window=20, every=1) == []

    def test_adjacent_matches_merge(self, spark):
        bench = " ".join(["benchmark answer span words"] * 8)
        rows = [(1, "prefix " + bench + " suffix")]
        spans = self._spans(spark, rows, [bench], window=20, every=1)
        assert len(spans) == 1
        assert spans[0][2] >= len(bench) - 40

    def test_short_docs_and_empty_eval(self, spark):
        rows = [(1, "tiny"), (2, "a training doc of reasonable length here")]
        assert self._spans(spark, rows, ["tiny"], window=20, every=1) == []
        assert self._spans(spark, rows, [], window=20, every=1) == []


class TestTokenEntropy:
    def test_entropy_math(self, spark):
        from math import log

        from lance_spark.operators.curation import token_entropy

        rows = [
            (1, "aa aa aa aa"),          # one distinct token: entropy 0
            (2, "aa bb aa bb"),          # uniform over 2: ln 2
            (3, "aa aa aa bb"),          # 3/4, 1/4
            (4, ""),                     # zero tokens: omitted
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {
            r["id"]: r
            for r in token_entropy(df, "text", "doc_id").collect()
        }
        assert set(out) == {1, 2, 3}
        assert out[1]["entropy"] == 0.0 and out[1]["norm_entropy"] == 0.0
        assert out[2]["n_tokens"] == 4 and out[2]["n_distinct"] == 2
        assert abs(out[2]["entropy"] - round(log(2), 4)) < 1e-9
        assert out[2]["norm_entropy"] == 1.0
        h3 = -(0.75 * log(0.75) + 0.25 * log(0.25))
        assert abs(out[3]["entropy"] - round(h3, 4)) < 1e-9
        assert abs(out[3]["norm_entropy"] - round(h3 / log(2), 4)) < 1e-9


class TestExciseSpans:
    def _run(self, spark, rows, spans):
        from lance_spark.operators.curation import excise_spans

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        sp = spark.createDataFrame(
            spans, "id long, span_start long, span_len long"
        )
        return {
            r["id"]: (r["cleaned_text"], r["removed_chars"])
            for r in excise_spans(df, sp, "text", "doc_id").collect()
        }

    def test_basic_excision(self, spark):
        rows = [(1, "keep REMOVE keep2"), (2, "untouched document")]
        out = self._run(spark, rows, [(1, 6, 7)])  # "REMOVE " (1-based)
        assert out[1] == ("keep keep2", 7)
        assert out[2] == ("untouched document", 0)

    def test_multiple_and_overlapping_spans(self, spark):
        rows = [(1, "abcdefghij")]
        # spans [2,4] (bcd) and overlapping [3,5] (cdefg) → remove b..g
        out = self._run(spark, rows, [(1, 2, 3), (1, 3, 5)])
        assert out[1] == ("ahij", 6)

    def test_span_at_edges(self, spark):
        rows = [(1, "abcdef")]
        out = self._run(spark, rows, [(1, 1, 2), (1, 5, 2)])
        assert out[1] == ("cd", 4)
        out = self._run(spark, rows, [(1, 1, 6)])
        assert out[1] == ("", 6)

    def test_roundtrip_with_contamination_spans(self, spark):
        from lance_spark.operators.curation import (
            contamination_spans,
            excise_spans,
        )

        bench = "the exact benchmark passage that leaked into training data here"
        rows = [(1, "prefix words then " + bench + " and a suffix"),
                (2, "clean original document with no leaked content at all")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        ev = spark.createDataFrame([(bench,)], "text string")
        spans = contamination_spans(df, ev, "text", "doc_id", window=20, every=1)
        out = {r["id"]: r for r in excise_spans(df, spans, "text", "doc_id").collect()}
        assert out[2]["removed_chars"] == 0
        assert out[1]["removed_chars"] > len(bench) - 40
        assert "benchmark passage" not in out[1]["cleaned_text"]


class TestNaiveBayes:
    def test_hand_corpus_prediction(self, spark):
        from math import log

        from lance_spark.operators.curation import nb_classify

        train = spark.createDataFrame(
            [
                (1, "spark shuffle partition executor", "tech"),
                (2, "partition executor codegen spark", "tech"),
                (3, "butter flour sugar oven bake", "cooking"),
                (4, "oven bake sugar butter whisk", "cooking"),
            ],
            ["doc_id", "text", "topic"],
        )
        score = spark.createDataFrame(
            [(10, "spark executor shuffle"), (11, "bake butter sugar"), (12, "")],
            ["doc_id", "text"],
        )
        out = {r["id"]: r for r in
               nb_classify(train, score, "text", "doc_id", "topic").collect()}
        assert out[10]["pred"] == "tech"
        assert out[11]["pred"] == "cooking"
        # empty doc: prior-only; equal priors → lexicographically first class
        assert out[12]["pred"] == "cooking"
        assert out[12]["score"] == pytest.approx(round(log(0.5), 6), abs=1e-9)

    def test_holdout_accuracy_separable_corpus(self, spark):
        """Two classes with mostly-disjoint vocabularies plus shared noise
        words: held-out accuracy must be near-perfect. (The sf* documents'
        synthetic lang label barely correlates with its text — ~35% NB
        accuracy vs a 39% majority baseline — so the learnability check
        uses a corpus with real signal; exactness vs the DuckDB oracle is
        pinned separately by curate_nb_classifier.)"""
        import random

        from lance_spark.operators.curation import nb_classify

        rng = random.Random(7)
        vocab_a = [f"alpha{i}" for i in range(30)]
        vocab_b = [f"beta{i}" for i in range(30)]
        noise = [f"noise{i}" for i in range(20)]
        rows = []
        for i in range(300):
            cls = "a" if i % 2 == 0 else "b"
            core = vocab_a if cls == "a" else vocab_b
            words = rng.choices(core, k=12) + rng.choices(noise, k=6)
            rng.shuffle(words)
            rows.append((i, " ".join(words), cls))
        df = spark.createDataFrame(rows, ["doc_id", "text", "cls"])
        train = df.filter(F.col("doc_id") % 3 != 0)
        test = df.filter(F.col("doc_id") % 3 == 0)
        pred = nb_classify(train, test, "text", "doc_id", "cls")
        j = pred.join(test.select(F.col("doc_id").alias("id"), "cls"), "id")
        acc = j.filter(F.col("pred") == F.col("cls")).count() / j.count()
        assert acc >= 0.95


def test_nb_model_persists_across_snapshots(spark, tmp_path):
    """nb_train writes a reusable model; nb_score classifies a NEW snapshot
    without touching the labeled corpus, matching a fresh nb_classify on
    the same inputs exactly."""
    from lance_spark.operators.curation import nb_classify, nb_score, nb_train

    train = spark.createDataFrame(
        [
            (1, "spark shuffle partition executor", "tech"),
            (2, "partition executor codegen spark", "tech"),
            (3, "butter flour sugar oven bake", "cooking"),
            (4, "oven bake sugar butter whisk", "cooking"),
        ],
        ["doc_id", "text", "topic"],
    )
    snapshot2 = spark.createDataFrame(
        [(20, "codegen spark shuffle"), (21, "whisk the butter and sugar")],
        ["doc_id", "text"],
    )
    uri = str(tmp_path / "nbmodel")
    nb_train(train, "text", "topic", uri)
    got = sorted(
        (r["id"], r["pred"], r["score"])
        for r in nb_score(snapshot2, "text", "doc_id", uri).collect()
    )
    want = sorted(
        (r["id"], r["pred"], r["score"])
        for r in nb_classify(train, snapshot2, "text", "doc_id", "topic").collect()
    )
    assert got == want
    assert [p for _, p, _ in got] == ["tech", "cooking"]
    # the vocabulary size is persisted so scoring's broadcast gate reads
    # metadata instead of running a count job
    import json

    meta = json.load(open(f"{uri}/meta.json"))
    assert meta["vocab_size"] == 11  # distinct training tokens


def test_nb_train_null_labels_and_remote_uri(spark, tmp_path):
    """ADVICE r8: null labels must not crash sorted() or train a null
    class; non-local model URIs are rejected up front (meta.json is
    written driver-local)."""
    from lance_spark.operators.curation import nb_score, nb_train

    train = spark.createDataFrame(
        [
            (1, "spark shuffle executor", "tech"),
            (2, "butter sugar oven", "cooking"),
            (3, "unlabeled row tokens here", None),
        ],
        ["doc_id", "text", "topic"],
    )
    uri = str(tmp_path / "nbnull")
    nb_train(train, "text", "topic", uri)  # must not raise
    import json

    meta = json.load(open(f"{uri}/meta.json"))
    assert meta["classes"] == ["cooking", "tech"]  # no null class
    got = nb_score(
        spark.createDataFrame([(9, "executor shuffle")], ["doc_id", "text"]),
        "text", "doc_id", uri,
    ).collect()
    assert got[0]["pred"] == "tech"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-null"):
        nb_train(train.filter("topic IS NULL"), "text", "topic", str(tmp_path / "x"))
    with _pytest.raises(ValueError, match="local path"):
        nb_train(train, "text", "topic", "s3://bucket/model")


def test_minhash_survives_short_and_empty_docs(spark, docs):
    """Docs with fewer tokens than shingle_k must yield no shingles, not
    abort the job (F.sequence descending + element_at(toks, 0) killed the
    whole minhash stage — confirmed crash on 2-token docs in both ANSI
    and non-ANSI modes). Short docs still exact-dedup by fingerprint."""
    from pyspark.sql import Row

    from lance_spark.operators.dedup import (
        build_fingerprint_index,
        minhash_lsh_pairs,
        minhash_signatures_agg,
    )

    corpus = docs.unionByName(
        spark.createDataFrame(
            [Row(id=10, text="hello world", src="c"),
             Row(id=11, text="!!!", src="c"),
             Row(id=12, text="hello world", src="c")],
        )
    )
    sigs = minhash_signatures_agg(corpus, "text", "id")
    assert {r["id"] for r in sigs.collect()} <= {1, 2, 3, 4, 5}  # short docs: no sig row
    pairs = minhash_lsh_pairs(corpus, "text", "id").collect()
    assert all({p["id_a"], p["id_b"]} <= {1, 2, 3, 4, 5} for p in pairs)
    # the banded fingerprint path (and therefore the streaming dedup sink)
    # must also survive — short docs carry an exact fp with null band_key
    import tempfile

    ds = build_fingerprint_index(
        corpus, "text", "id", tempfile.mkdtemp(prefix="fpix_") + "/idx"
    )
    rows = ds.to_df(spark).filter("id = 10").collect()
    assert rows and all(r["band_key"] is None for r in rows)
    assert all(r["fp"] is not None for r in rows)


def test_fingerprint_index_param_mismatch_raises(spark, docs, tmp_path):
    """Querying or appending a fingerprint index with different LSH params
    than it was built with silently disables near-dup detection (band keys
    never match) — it must raise instead."""
    from lance_spark.operators.dedup import build_fingerprint_index, dedup_against_index

    uri = str(tmp_path / "fpi")
    ds = build_fingerprint_index(docs, "text", "id", uri, num_perm=16, bands=4)
    with pytest.raises(ValueError, match="built with"):
        dedup_against_index(docs, "text", "id", ds, spark, bands=8)
    with pytest.raises(ValueError, match="built with"):
        build_fingerprint_index(docs, "text", "id", uri, mode="append", num_perm=8)
    # matching params still work
    out = dedup_against_index(docs, "text", "id", ds, spark, num_perm=16, bands=4)
    assert out.count() == 0  # the corpus duplicates itself entirely


def test_connected_components_raises_on_non_convergence(spark):
    """A component whose diameter exceeds max_iter must fail loudly — the
    truncated labels would leave clusters without a canonical member.
    The driver union-find valve is disabled (gate=0) to pin the
    DISTRIBUTED loop's guard; the valve path has no iteration to bound."""
    from lance_spark.operators.dedup import connected_components

    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    chain = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"])
    spark.conf.set("lance_spark.cc.driverEdgeGate", "0")
    try:
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(nodes, chain, max_iter=3)
        ok = connected_components(nodes, chain, max_iter=n + 1)
        assert {r["cluster_id"] for r in ok.collect()} == {0}
    finally:
        spark.conf.unset("lance_spark.cc.driverEdgeGate")


def test_connected_components_valve_matches_loop(spark):
    """The small-graph driver union-find fast path must label exactly like
    the distributed min-label loop: same (id, cluster_id) rows, singletons
    clustering to themselves, chains to their minimum."""
    from lance_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(20)], ["id"])
    # chain 0..5, triangle 7-8-9, pair (12, 15), singletons elsewhere
    edges = [(i, i + 1) for i in range(5)] + [(7, 8), (8, 9), (7, 9), (15, 12)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    valve = {(r["id"], r["cluster_id"]) for r in connected_components(nodes, pairs).collect()}
    spark.conf.set("lance_spark.cc.driverEdgeGate", "0")
    try:
        loop = {(r["id"], r["cluster_id"]) for r in connected_components(nodes, pairs).collect()}
    finally:
        spark.conf.unset("lance_spark.cc.driverEdgeGate")
    assert valve == loop
    assert dict(valve)[3] == 0 and dict(valve)[9] == 7 and dict(valve)[15] == 12
    assert dict(valve)[11] == 11


def test_span_anchors_cover_newline_separated_words(spark):
    """Whitespace-variant text (one word per line) must still anchor —
    a duplicated passage formatted with newlines was previously invisible
    to substring_duplicate_spans regardless of its length."""
    from lance_spark.operators.dedup import substring_duplicate_spans

    passage = "\n".join(f"tok{i:03d}" for i in range(40))  # ~280 chars, no spaces
    rows = [(1, "A" * 50 + "\n" + passage), (2, "B" * 35 + "\n" + passage)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = substring_duplicate_spans(df, "text", "doc_id", window=40, every=2, min_docs=2)
    got = {r["id"] for r in spans.collect()}
    assert got == {1, 2}


def test_nb_train_integer_and_dotted_labels(spark, tmp_path):
    """Pivoted class columns must be accessed by (escaped) NAME: integer
    labels positionally resolved model[0] to the token column (silent
    garbage) and dotted labels ('sci.med') raised AnalysisException."""
    from lance_spark.operators.curation import nb_classify

    rows = [
        (0, "alpha beta beta gamma"), (0, "alpha beta delta"),
        (1, "omega psi psi chi"), (1, "omega psi phi"),
    ]
    train = spark.createDataFrame(rows, "label int, text string")
    score = spark.createDataFrame(
        [(10, "beta alpha beta"), (11, "psi omega psi")], "id int, text string"
    )
    got = {r["id"]: r["pred"] for r in nb_classify(train, score, "text", "id", "label").collect()}
    assert got == {10: 0, 11: 1}

    train2 = spark.createDataFrame(
        [("sci.med", "dose patient trial"), ("rec.autos", "engine wheel brake")],
        "label string, text string",
    )
    score2 = spark.createDataFrame([(1, "patient dose")], "id int, text string")
    got2 = nb_classify(train2, score2, "text", "id", "label").collect()
    assert got2[0]["pred"] == "sci.med"


def test_redact_pii_mixed_case_email(spark):
    """Uppercase/mixed-case emails must redact — a case-sensitive pattern
    left 'JOHN@EXAMPLE.COM' intact (a PII leak) and partially mangled
    'John.Doe@Example.com'."""
    from lance_spark.operators.curation import redact_pii

    df = spark.createDataFrame(
        [(1, "Contact JOHN@EXAMPLE.COM now"), (2, "or John.Doe@Example.com ok")],
        "id int, text string",
    )
    got = {
        r["id"]: r["text"]
        for r in df.select("id", redact_pii(F.col("text")).alias("text")).collect()
    }
    assert got[1] == "Contact [EMAIL] now"
    assert got[2] == "or [EMAIL] ok"


def test_pack_sequences_null_ids_excluded(spark):
    from lance_spark.operators.curation import pack_sequences

    df = spark.createDataFrame(
        [(1, 10), (2, 10), (None, 10)], "id int, n long"
    )
    out = pack_sequences(df, "id", "n", capacity=16)
    assert {r["id"] for r in out.collect()} == {1, 2}


class TestKnnReviewR11:
    """Pins for the r11 adversarial review of operators/knn.py."""

    def test_null_distance_rows_never_rank_first(self, spark):
        from lance_spark.operators.knn import (
            knn_batch,
            knn_bruteforce,
            multivector_maxsim_join,
        )

        rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])]  # 3: zero norm
        df = spark.createDataFrame(rows, "id long, v array<double>")
        got = [r["id"] for r in knn_bruteforce(df, "v", [1.0, 0.0], k=2, metric="cosine", id_col="id").collect()]
        assert got == [1, 2]  # zero-norm row must not occupy a slot

        q = spark.createDataFrame([(0, [1.0, 0.0])], "qid long, v array<double>")
        gb = [r["id"] for r in knn_batch(df, q, "v", "id", "qid", k=2).collect()]
        assert gb == [1, 2]

        mv = spark.createDataFrame(
            [(1, [[1.0, 0.0]]), (2, [[0.9, 0.1]]), (3, [[0.0, 0.0]])],
            "id long, mv array<array<double>>",
        )
        qmv = spark.createDataFrame([(0, [[1.0, 0.0]])], "qid long, mv array<array<double>>")
        gj = [
            r["id"]
            for r in multivector_maxsim_join(mv, "mv", "id", qmv, "mv", "qid", k=2).collect()
        ]
        assert gj == [1, 2]

    def test_metric_validated(self, spark):
        from lance_spark.operators.knn import knn_batch, knn_bruteforce

        df = spark.createDataFrame([(1, [1.0, 0.0])], "id long, v array<double>")
        q = spark.createDataFrame([(0, [1.0, 0.0])], "qid long, v array<double>")
        with pytest.raises(ValueError, match="metric"):
            knn_bruteforce(df, "v", [1.0, 0.0], metric="euclidean", id_col="id")
        with pytest.raises(ValueError, match="metric"):
            knn_batch(df, q, "v", "id", "qid", metric="L2")

    def test_multivector_maxsim_empty_queries_and_parity(self, spark):
        from lance_spark.operators.knn import multivector_maxsim

        mv = spark.createDataFrame(
            [(1, [[1.0, 0.0], [0.0, 1.0]]), (2, [[0.5, 0.5]])],
            "id long, mv array<array<double>>",
        )
        with pytest.raises(ValueError, match="query vector"):
            multivector_maxsim(mv, "mv", "id", [])
        got = {
            r["id"]: r["_maxsim"]
            for r in multivector_maxsim(mv, "mv", "id", [[1.0, 0.0], [0.0, 1.0]], k=2).collect()
        }
        assert got[1] == pytest.approx(2.0, abs=1e-4)  # exact maxsim after the norm hoist
        assert got[2] == pytest.approx(2 * (0.5 / (0.7071067811865476)), abs=1e-3)


class TestKnnReviewR12:
    """Pins for the r12 adversarial review of operators/knn.py."""

    def test_knn_batch_hamming_64bit_codes_exact(self, spark):
        """64-bit codes above 2^53 must survive the query-side cast — the
        old double round-trip silently corrupted them."""
        from lance_spark.operators.knn import knn_batch

        big = (1 << 62) + 3  # not representable as a double
        corpus = spark.createDataFrame(
            [(1, [big, 0]), (2, [big + 1, 0]), (3, [0, 0])],
            "id long, code array<long>",
        )
        queries = spark.createDataFrame([(100, [big, 0])], "qid long, code array<long>")
        got = knn_batch(corpus, queries, "code", "id", "qid", k=3, metric="hamming")
        rows = {r["id"]: r["_distance"] for r in got.collect()}
        assert rows[1] == 0.0  # exact self-match: the cast kept all 64 bits
        assert rows[2] == float(bin(big ^ (big + 1)).count("1"))

    def test_knn_batch_corpus_reserved_column_names(self, spark, sf_dir):
        """A corpus already carrying query_id/qv columns (reused pipeline
        output) must not make the plan ambiguous."""
        from lance_spark.operators.knn import knn_batch

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
        corpus = emb.withColumn("query_id", F.lit(0)).withColumn("qv", F.lit("x"))
        queries = emb.limit(2).select("vec_id", "embedding")
        got = knn_batch(corpus, queries, "embedding", "vec_id", "vec_id", k=3)
        assert got.count() == 6

    def test_knn_bruteforce_ragged_corpus(self, spark):
        """One mixed-length vector must NULL-rank last, not abort the job."""
        from lance_spark.operators.knn import knn_bruteforce

        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [1.0, 0.0, 0.0])],
            "id long, v array<double>",
        ).coalesce(1)
        got = knn_bruteforce(df, "v", [1.0, 0.0], k=3, metric="cosine",
                             id_col="id").collect()
        assert [r["id"] for r in got[:2]] == [1, 2]
        import math
        assert got[2]["id"] == 3 and (got[2]["_distance"] is None
                                      or math.isnan(got[2]["_distance"]))


def test_cluster_balanced_sample_quota_and_branches(spark):
    """r13: per-cluster quota enforced; the ≤256-centroid explicit branch
    and the >256 GEMM branch assign identically (GEMM exercised by
    padding the centroid set with far-away dummies)."""
    import numpy as np

    from lance_spark.operators.curation import cluster_balanced_sample

    rng = np.random.default_rng(3)
    cents = rng.standard_normal((4, 8))
    rows = [
        (i, (cents[i % 4] + 0.01 * rng.standard_normal(8)).tolist())
        for i in range(80)
    ] + [(999, None)]
    df = spark.createDataFrame(rows, "id long, v array<double>")

    out = cluster_balanced_sample(df, "v", "id", cents, per_cluster=5)
    got = out.collect()
    by_cluster: dict = {}
    for r in got:
        by_cluster.setdefault(r["cluster_id"], []).append(r["id"])
    assert all(len(v) <= 5 for v in by_cluster.values())
    assert sum(len(v) for v in by_cluster.values()) == 20  # 4 full clusters
    assert 999 not in {r["id"] for r in got}  # null vector excluded

    # GEMM branch: same 4 near centroids + 300 dummies far away → same
    # assignments for the kept rows
    far = 1e6 + rng.standard_normal((300, 8))
    big = np.vstack([cents, far])
    out2 = cluster_balanced_sample(df, "v", "id", big, per_cluster=5)
    assert sorted((r["cluster_id"], r["id"]) for r in out2.collect()) == sorted(
        (r["cluster_id"], r["id"]) for r in got
    )

    import pytest as _pytest

    with _pytest.raises(ValueError, match="per_cluster"):
        cluster_balanced_sample(df, "v", "id", cents, per_cluster=0)
    with _pytest.raises(ValueError, match="centroids"):
        cluster_balanced_sample(df, "v", "id", np.zeros((0, 8)), per_cluster=1)


def test_paragraph_dedup_single_pass_no_join(spark):
    """r13 optimization pin: the >=first-occurrence gate is one window
    pass over one hash shuffle — no winner-agg + join-back (the plan must
    contain no Join), and values are unchanged: first occurrence =
    lexicographic-min (id, pos) per paragraph hash."""
    from lance_spark.operators.dedup import paragraph_dedup
    from lance_spark.plans.explain import explain_plan

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"   # 10 toks
    b = "one two three four five six seven eight nine ten"
    rows = [
        (1, f"{a} {b}"),          # paras: [a, b]
        (2, f"{b} {a}"),          # same paras, later id — all dups
        (3, a),                   # dup of doc1's first para
        (4, "unique eleven twelve thirteen fourteen"),  # short, 1 para
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["id"]: (r["n_paras"], r["n_kept"])
        for r in paragraph_dedup(df, "text", "doc_id", para_tokens=10).collect()
    }
    assert out == {1: (2, 2), 2: (2, 0), 3: (1, 0), 4: (1, 1)}

    plan = explain_plan(
        paragraph_dedup(df, "text", "doc_id", para_tokens=10), "formatted"
    )
    assert "Join" not in plan
    assert "Window" in plan


def test_dedup_against_index_multi_route_hits_surface_once(spark, tmp_path):
    """r13 optimization pin: est is evaluated in the band-join stage and
    duplicate hit ids (same doc matching via exact fp AND several LSH
    bands) collapse in the single doomed.distinct() — survivors carry no
    duplicate rows and multi-route dups are still dropped."""
    from pyspark.sql import functions as F

    from lance_spark.operators.dedup import (
        build_fingerprint_index,
        dedup_against_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(40)
    corpus = docs.select(F.col("doc_id").alias("id"), "text")
    idx = build_fingerprint_index(corpus, "text", "id", str(tmp_path / "fps"))

    # identical text -> exact fp hit AND all-band near hit simultaneously
    both = docs.limit(6).select((F.col("doc_id") + 100).alias("id"), "text")
    fresh = docs.limit(3).select(
        (F.col("doc_id") + 500).alias("id"),
        F.concat_ws(" ", *[F.concat(F.lit(f"yy{c}"), F.col("doc_id").cast("string"))
                           for c in "abcdef"]).alias("text"),
    )
    out = dedup_against_index(
        both.unionByName(fresh), "text", "id", idx, spark
    ).collect()
    ids = [r["id"] for r in out]
    assert sorted(ids) == sorted(set(ids))          # no duplicate survivors
    assert set(ids) == {r["id"] for r in fresh.collect()}
