"""Property-based tests (hypothesis) — the reference's proptest strategy
(rust/lance-encoding proptest roundtrips, SURVEY §5) applied to our format
layer: manifest JSON roundtrips, and random mutation sequences checked
against an in-memory pandas model of the table.
"""

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lance_spark import manifest as mf

names = st.text(alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=12)


@st.composite
def manifests(draw):
    n_frags = draw(st.integers(0, 5))
    frags = []
    for i in range(n_frags):
        n_files = draw(st.integers(1, 3))
        files = [
            mf.DataFile(path=f"data/f{i}-{g}.parquet", columns=draw(st.lists(names, min_size=1, max_size=4)))
            for g in range(n_files)
        ]
        phys = draw(st.integers(1, 10_000))
        frags.append(
            mf.Fragment(
                id=i,
                files=files,
                physical_rows=phys,
                deletion_file=draw(st.one_of(st.none(), st.just(f"_deletions/d{i}.parquet"))),
                num_deleted_rows=draw(st.integers(0, phys - 1)),
            )
        )
    indices = [
        mf.IndexMeta(
            name=draw(names),
            index_type=draw(st.sampled_from(["IVF_PQ", "BTREE", "INVERTED", "ZONEMAP"])),
            column=draw(names),
            path="_indices/x",
            fragment_ids=[f.id for f in frags],
            params=draw(st.dictionaries(names, st.integers(0, 100), max_size=3)),
        )
        for _ in range(draw(st.integers(0, 2)))
    ]
    return mf.Manifest(
        version=draw(st.integers(1, 1000)),
        schema_json={"type": "struct", "fields": []},
        fragments=frags,
        max_fragment_id=max((f.id for f in frags), default=-1),
        operation=draw(st.sampled_from(["append", "overwrite", "delete", "rewrite"])),
        indices=indices,
        config=draw(st.dictionaries(names, names, max_size=3)),
        blob_columns=draw(st.lists(names, max_size=2)),
    )


@given(manifests())
@settings(max_examples=200, deadline=None)
def test_manifest_json_roundtrip(m):
    j = json.dumps(m.to_json())
    back = mf.Manifest.from_json(json.loads(j))
    assert back.to_json() == m.to_json()
    assert [f.num_rows for f in back.fragments] == [f.num_rows for f in m.fragments]


# ------------------------- model-based mutation sequences -------------------

op_strategy = st.lists(
    st.one_of(
        st.tuples(st.just("delete"), st.integers(0, 9)),        # delete key%10 == k
        st.tuples(st.just("update"), st.integers(0, 9)),        # bump value where key%10 == k
        st.tuples(st.just("append"), st.integers(1, 30)),       # append n fresh rows
        st.tuples(st.just("compact"), st.just(0)),
    ),
    min_size=1,
    max_size=5,
)


@pytest.mark.slow
@given(ops=op_strategy)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_mutation_sequence_matches_model(spark, tmp_path_factory, ops):
    """Random delete/update/append/compact sequences: the dataset must agree
    with a driver-side pandas model after every step."""
    import pandas as pd

    from lance_spark.dataset import dataset
    from lance_spark.write import write_dataset

    uri = str(tmp_path_factory.mktemp("prop") / "t")
    model = pd.DataFrame({"k": range(50), "v": [i * 10 for i in range(50)]})
    df = spark.createDataFrame(model)
    write_dataset(df.repartition(3), uri)
    next_key = 50

    for op, arg in ops:
        ds = dataset(uri)
        if op == "delete":
            ds.delete(spark, f"k % 10 = {arg}")
            model = model[model.k % 10 != arg]
        elif op == "update":
            ds.update(spark, {"v": "v + 1"}, where=f"k % 10 = {arg}")
            model.loc[model.k % 10 == arg, "v"] += 1
        elif op == "append":
            newm = pd.DataFrame({"k": range(next_key, next_key + arg), "v": [0] * arg})
            ds.insert(spark.createDataFrame(newm))
            model = pd.concat([model, newm], ignore_index=True)
            next_key += arg
        elif op == "compact":
            ds.compact_files(spark, target_rows_per_fragment=1000)

        got = (
            dataset(uri).to_df(spark).toPandas().sort_values("k").reset_index(drop=True)
        )
        want = model.sort_values("k").reset_index(drop=True)
        pd.testing.assert_frame_equal(got[["k", "v"]], want[["k", "v"]], check_dtype=False)


@given(
    st.lists(
        st.text(alphabet="abcdefghijklmnopqrstuvwxyzäöüßéèê", min_size=1, max_size=14),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
def test_stemmer_mirrors_lockstep(spark, words):
    """Property: for ANY token, the Column-side stemmer and the driver-side
    query-term mirror produce the same stem, for all three languages plus
    English. A divergence silently breaks FTS recall (query terms stop
    hitting their own postings), so this is pinned over random words
    including diacritics."""
    from pyspark.sql import functions as F

    from lance_spark.functions.text import (
        _FOLD_TABLE,
        ascii_fold,
        stem_token,
        stem_token_de,
        stem_token_es,
        stem_token_fr,
        stem_token_it,
        stem_token_pt,
        stem_word,
        stem_word_de,
        stem_word_es,
        stem_word_fr,
        stem_word_it,
        stem_word_pt,
    )

    df = spark.createDataFrame([(w,) for w in words], ["w"])
    folded = ascii_fold(F.regexp_replace(F.col("w"), "ß", "ss"))
    got = df.select(
        "w",
        stem_token(F.col("w")).alias("en"),
        stem_token_de(folded).alias("de"),
        stem_token_fr(ascii_fold(F.col("w"))).alias("fr"),
        stem_token_es(ascii_fold(F.col("w"))).alias("es"),
        stem_token_it(ascii_fold(F.col("w"))).alias("it"),
        stem_token_pt(ascii_fold(F.col("w"))).alias("pt"),
    ).collect()
    for r in got:
        w = r["w"]
        assert r["en"] == stem_word(w), f"en diverges on {w!r}"
        assert r["de"] == stem_word_de(w.replace("ß", "ss").translate(_FOLD_TABLE)), f"de diverges on {w!r}"
        assert r["fr"] == stem_word_fr(w.translate(_FOLD_TABLE)), f"fr diverges on {w!r}"
        assert r["es"] == stem_word_es(w.translate(_FOLD_TABLE)), f"es diverges on {w!r}"
        assert r["it"] == stem_word_it(w.translate(_FOLD_TABLE)), f"it diverges on {w!r}"
        assert r["pt"] == stem_word_pt(w.translate(_FOLD_TABLE)), f"pt diverges on {w!r}"


# ---------------------------------------------------------------------------
# substring_duplicate_spans vs a direct python mirror (the DuckDB oracle in
# suite.py is the independent check; this drives RANDOM corpora through the
# same math to hunt alignment/boundary edge cases)
# ---------------------------------------------------------------------------


def _py_spans(docs, window, every, min_docs, gap):
    import hashlib
    from collections import defaultdict

    def h64(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    wins = []  # (id, pos 1-based, hash)
    for did, text in docs:
        if len(text) < window:
            continue
        for i in range(1, len(text) - window + 2):
            if i == 1 or text[i - 2] == " ":
                hv = h64(text[i - 1 : i - 1 + window])
                if hv % every == 0:
                    wins.append((did, i, hv))
    by_hash = defaultdict(set)
    for did, _, hv in wins:
        by_hash[hv].add(did)
    dup_pos = defaultdict(list)
    for did, pos, hv in wins:
        if len(by_hash[hv]) >= min_docs:
            dup_pos[did].append(pos)
    spans = []
    for did, poss in dup_pos.items():
        poss.sort()
        start = prev = poss[0]
        for p in poss[1:]:
            if p - prev > gap:
                spans.append((did, start, prev - start + window))
                start = p
            prev = p
        spans.append((did, start, prev - start + window))
    return sorted(spans)


words = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
)
docs_strategy = st.lists(
    st.lists(words, min_size=0, max_size=30).map(" ".join),
    min_size=1,
    max_size=6,
)


@pytest.mark.usefixtures("spark")
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=docs_strategy, window=st.sampled_from([8, 15, 20]),
       every=st.sampled_from([1, 3]))
def test_substring_spans_match_python_mirror(spark, texts, window, every):
    from lance_spark.operators.dedup import substring_duplicate_spans

    docs = [(i + 1, t) for i, t in enumerate(texts)]
    expected = _py_spans(docs, window, every, min_docs=2, gap=window)
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = sorted(
        (r["id"], r["span_start"], r["span_len"])
        for r in substring_duplicate_spans(
            df, "text", "doc_id", window=window, every=every, min_docs=2
        ).collect()
    )
    assert got == expected


def _py_contamination(train, ev_texts, window, every, gap):
    import hashlib
    from collections import defaultdict

    def h64(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def wins(text):
        if len(text) < window:
            return
        for i in range(1, len(text) - window + 2):
            if i == 1 or text[i - 2] == " ":
                hv = h64(text[i - 1 : i - 1 + window])
                if hv % every == 0:
                    yield i, hv

    evh = {hv for t in ev_texts for _, hv in wins(t)}
    dup_pos = defaultdict(list)
    for did, text in train:
        for pos, hv in wins(text):
            if hv in evh:
                dup_pos[did].append(pos)
    spans = []
    for did, poss in dup_pos.items():
        poss.sort()
        start = prev = poss[0]
        for p in poss[1:]:
            if p - prev > gap:
                spans.append((did, start, prev - start + window))
                start = p
            prev = p
        spans.append((did, start, prev - start + window))
    return sorted(spans)


@pytest.mark.usefixtures("spark")
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=docs_strategy, ev=docs_strategy, window=st.sampled_from([8, 15, 20]),
       every=st.sampled_from([1, 3]))
def test_contamination_spans_match_python_mirror(spark, texts, ev, window, every):
    from lance_spark.operators.curation import contamination_spans

    docs = [(i + 1, t) for i, t in enumerate(texts)]
    expected = _py_contamination(docs, ev, window, every, gap=window)
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    ev_df = spark.createDataFrame([(t,) for t in ev], "text string")
    got = sorted(
        (r["id"], r["span_start"], r["span_len"])
        for r in contamination_spans(
            df, ev_df, "text", "doc_id", window=window, every=every
        ).collect()
    )
    assert got == expected


# ---------------------------------------------------------------------------
# numpy scoring kernel (indexes/vector.py) vs the JVM distance expressions
# ---------------------------------------------------------------------------


@st.composite
def vector_batches(draw):
    """(rows, query): a float32 matrix in which some rows are forced to
    all-zero (zero-norm) and a float32 query of the same width."""
    import numpy as np

    dim = draw(st.integers(1, 12))
    n = draw(st.integers(1, 8))
    f32 = st.floats(-1e6, 1e6, width=32)
    rows = [
        [0.0] * dim if draw(st.booleans()) and draw(st.booleans())
        else draw(st.lists(f32, min_size=dim, max_size=dim))
        for _ in range(n)
    ]
    q = draw(st.lists(f32, min_size=dim, max_size=dim))
    return np.asarray(rows, dtype=np.float32), np.asarray(q, dtype=np.float32)


@pytest.mark.usefixtures("spark")
@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    batch=vector_batches(),
    bits=st.lists(st.lists(st.integers(0, 255), min_size=3, max_size=3), min_size=1, max_size=6),
    qbits=st.lists(st.integers(0, 255), min_size=3, max_size=3),
)
def test_numpy_kernel_matches_spark_distance(spark, batch, bits, qbits):
    """Property: ``_finalize_distance(_score(_prep(...)))`` equals
    ``distance_expr`` on Spark over the same float32 rows for l2, cosine
    and dot, and packed hamming equals ``hamming_distance``; NaN on the
    numpy side is exactly NULL on the Spark side. Values agree to 1e-9
    relative; the absolute slack 1e-9·max(1, ‖x‖‖q‖) covers results that
    cancel to ~0 (dot, and cosine of parallel vectors), where the two
    engines' different summation orders leave rounding-sized residues."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from lance_spark.functions.vector import distance_expr, hamming_distance
    from lance_spark.indexes.vector import _finalize_distance, _prep, _score

    x, q = batch
    metrics = ("l2", "cosine", "dot")
    ql = F.array(*[F.lit(float(v)) for v in q])
    qb = F.array(*[F.lit(int(v)) for v in qbits])
    df = spark.createDataFrame(
        [(i, [float(v) for v in r], bits[i % len(bits)]) for i, r in enumerate(x)],
        "i int, v array<float>, b array<int>",
    )
    got = df.select(
        "i",
        *[distance_expr(F.col("v"), ql, m).alias(m) for m in metrics],
        hamming_distance(F.col("b").cast("array<long>"), qb.cast("array<long>")).alias("hamming"),
    ).orderBy("i").collect()

    for m in metrics:
        cos = m == "cosine"
        want = _finalize_distance(_score(_prep(x, cosine=cos), _prep(q[None], cosine=cos)[0], m), m)
        for r, w, xi in zip(got, want, x):
            s = r[m]
            if math.isnan(w):
                assert s is None, (m, r["i"], s)
                continue
            assert s is not None, (m, r["i"], w)
            scale = max(1.0, float(np.linalg.norm(xi.astype(np.float64)) * np.linalg.norm(q.astype(np.float64))))
            assert math.isclose(w, s, rel_tol=1e-9, abs_tol=1e-9 * scale), (m, r["i"], w, s)
    packed = np.asarray([bits[i % len(bits)] for i in range(len(x))], dtype=np.float32)
    ham = _finalize_distance(
        _score(_prep(packed, packed=True), _prep([qbits], packed=True)[0], "hamming"), "hamming"
    )
    assert [r["hamming"] for r in got] == [int(h) for h in ham]
