"""Scalar secondary indexes: BTREE, BITMAP, LABEL_LIST, NGRAM, ZONEMAP,
BLOOMFILTER, JSON (a BTree over an extracted JSON path, json.rs:55).

Reference semantics (rust/lance-index/src/scalar/): each index answers a
``SargableQuery`` — Range / IsIn / Equals / IsNull / TextContains
(scalar.rs:350-362) — with either an EXACT row-id set or an INEXACT
candidate set that must be rechecked against the original predicate
(expression.rs "recheck" marking; our ``IndexResult.exact`` flag).

Spark-first shapes:
  - BTREE (btree.rs:756)       → parquet {value, _rowid} sorted by value;
    range/eq/in queries push a filter on ``value`` into the parquet scan
    (row-group stats make this a log-ish seek, the role of the sorted runs).
  - BITMAP (bitmap.rs:97)      → parquet {value, rowids array<long>} — one
    row per distinct value, for low-cardinality columns.
  - LABEL_LIST (label_list.rs) → BITMAP over exploded list elements;
    answers array_has_any / array_has_all.
  - NGRAM (ngram.rs:261)       → parquet {gram, _rowid} of char trigrams;
    answers contains() INEXACTLY (candidates must recheck).
  - ZONEMAP (zonemap.rs:101)   → parquet {fragment_id, min, max, null_count}
    per fragment-chunk; prunes fragments, INEXACT by construction.
  - BLOOMFILTER (bloomfilter.rs:75) → per-fragment bit arrays; INEXACT
    equality/IN pruning.

The index tables are tiny relative to data (value+rowid columns only) and
partition-prunable; building each is one distributed pass over the column.
At 100 TB the win is identical to the reference's: a prefilter row-id set
(or fragment subset) computed from an index table orders of magnitude
smaller than the base table, fed into ``scanner(prefilter_rowids=...)`` /
``scanner(fragments=...)``.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lance_spark.io import local_df, read_table, write_table
from lance_spark.write import ROWID_COL


#: Kinds whose entries are keyed by fragment id rather than rowid: a
#: compaction leaves their entries naming the rewritten (dead) fragments.
FRAGMENT_KEYED = frozenset({"ZONEMAP", "BLOOMFILTER"})


@dataclass
class IndexResult:
    """Outcome of an index probe: row ids (exact or candidate) or a fragment
    subset, plus whether the original predicate must be re-applied."""

    rowids: DataFrame | None = None  # column: _rowid
    fragments: list[int] | None = None  # fragment-granular prune
    exact: bool = False


# ------------------------------------------------------------------ builders


def _scan_col(ds, spark: SparkSession, column: str) -> DataFrame:
    return ds.scanner(spark, columns=[column], with_row_id=True)


def build_scalar_index(ds, spark: SparkSession, column: str, kind: str, uri: str, params: dict | None = None) -> dict:
    """One distributed pass over (column, _rowid) → index parquet at uri.
    Returns the params dict recorded in IndexMeta."""
    params = dict(params or {})
    df = _scan_col(ds, spark, column)
    kind = kind.upper()
    if kind == "BTREE":
        out = (
            df.select(F.col(column).alias("value"), ROWID_COL)
            .repartitionByRange(max(df.sparkSession.sparkContext.defaultParallelism, 1), "value")
            .sortWithinPartitions("value")
        )
    elif kind == "BITMAP":
        out = (
            df.groupBy(F.col(column).alias("value"))
            .agg(F.sort_array(F.collect_list(ROWID_COL)).alias("rowids"))
        )
    elif kind == "LABEL_LIST":
        out = (
            df.select(F.explode(column).alias("value"), F.col(ROWID_COL))
            .groupBy("value")
            .agg(F.sort_array(F.collect_list(ROWID_COL)).alias("rowids"))
        )
    elif kind == "NGRAM":
        n = int(params.setdefault("n", 3))
        # char n-grams via expr-form transform (substring needs a positional arg)
        grams = F.expr(
            f"transform(sequence(1, greatest(length(lower({column})) - {n - 1}, 0)),"
            f" i -> substring(lower({column}), i, {n}))"
        )
        out = df.select(F.explode(F.array_distinct(grams)).alias("gram"), F.col(ROWID_COL))
    elif kind == "JSON":
        # JsonIndex (rust/lance-index/src/scalar/json.rs:55): a BTree over
        # one extracted JSON path; value_type casts the extracted string
        path = params.get("path")
        if not path:
            raise ValueError("JSON index requires params={'path': '$.field'}")
        vtype = params.setdefault("value_type", "string")
        out = (
            df.select(
                F.get_json_object(F.col(column), path).cast(vtype).alias("value"),
                F.col(ROWID_COL),
            )
            .repartitionByRange(max(df.sparkSession.sparkContext.defaultParallelism, 1), "value")
            .sortWithinPartitions("value")
        )
    elif kind == "ZONEMAP":
        out = (
            ds._with_fragment_id(spark, df)
            .groupBy("fragment_id")
            .agg(
                F.min(column).alias("min"),
                F.max(column).alias("max"),
                F.sum(F.when(F.col(column).isNull(), 1).otherwise(0)).alias("null_count"),
            )
        )
    elif kind == "BLOOMFILTER":
        # per-fragment set of xxhash64(value) mod nbits — bloom semantics
        # (membership may false-positive on hash collision, never false-negative).
        # The COLUMN TYPE is recorded so probes hash the literal through the
        # same cast chain (lit → column type → string): hashing Python's
        # str(value) instead would miss e.g. double 5.0 ('5.0' at build vs
        # '5' at probe) — a bloom false NEGATIVE, silently pruning fragments
        # that contain matches.
        nbits = int(params.setdefault("nbits", 1 << 16))
        params["value_type"] = df.schema[column].dataType.simpleString()
        out = (
            ds._with_fragment_id(spark, df)
            .select("fragment_id", F.col(column).cast("string").alias("value"))
            .withColumn("h", F.xxhash64("value"))
            .groupBy("fragment_id")
            .agg(F.collect_set(F.pmod(F.col("h"), F.lit(nbits))).alias("bit_idx"))
        )
    else:
        raise ValueError(f"unknown scalar index type {kind}")
    write_table(out, uri)
    return params


def create_scalar_index(ds, spark: SparkSession, column: str, kind: str, name: str | None = None, params: dict | None = None, train: bool = True):
    """dataset.py:2229-2330 ``create_scalar_index``: build + commit IndexMeta.

    ``train=False`` registers an EMPTY index (reference
    test_create_empty_index.py): no build pass, zero fragment coverage —
    index_statistics reports num_indexed_rows=0, queries run the flat
    branch, and a later ``optimize_indices`` performs the actual build."""
    from lance_spark import manifest as mf
    from lance_spark.dataset import LanceDataset

    import uuid

    kind = kind.upper()
    name = name or f"{column}_{kind.lower()}_idx"
    # VERSIONED build dir: a rebuild (optimize_indices) must not overwrite
    # the directory the CURRENTLY COMMITTED manifest still points at — a
    # concurrent reader mid-query would hit deleted files, and time-travel
    # to an older version would read the new build against old coverage
    # metadata. Each build writes to a fresh subdir; the manifest commit is
    # the atomic switch; superseded builds are reclaimed by
    # cleanup_old_versions once no kept manifest references them.
    rel = os.path.join("_indices", name, f"b{uuid.uuid4().hex[:8]}")
    uri = os.path.join(ds.uri, rel)
    if train:
        params = build_scalar_index(ds, spark, column, kind, uri, params)
        covered = [f.id for f in ds.manifest.fragments]
    else:
        params = dict(params or {})
        covered = []

    def build(base, version):
        return mf.Manifest.evolve(
            base, version, operation="create_index",
            indices=[i for i in base.indices if i.name != name]
            + [mf.IndexMeta(name=name, index_type=kind, column=column, path=rel, fragment_ids=covered, params=params)],
        )

    mf.commit(ds.uri, build, operation="create_index")
    return LanceDataset(ds.uri)


# ------------------------------------------------------------------- queries


def _load(spark: SparkSession, ds, meta) -> DataFrame:
    return read_table(spark, os.path.join(ds.uri, meta.path))


def _uncovered_fragments(ds, meta) -> list[int]:
    """Fragments appended after the index build — not in its coverage set."""
    cov = set(meta.fragment_ids)
    return [f.id for f in ds.manifest.fragments if f.id not in cov]


def _op_predicate(col, op: str, value):
    """One comparison table for both the index side (F.col('value')) and
    the flat tail side (the base column) — two hand-maintained copies
    could silently diverge the index answer from the tail-scan answer."""
    if op == "=":
        return col == value
    if op == "<":
        return col < value
    if op == "<=":
        return col <= value
    if op == ">":
        return col > value
    if op == ">=":
        return col >= value
    if op == "between":
        return col.between(value[0], value[1])
    if op == "in":
        return col.isin(list(value))
    if op == "is_null":
        return col.isNull()
    return None


def _tail_predicate(meta, op: str, value):
    """The sargable op as a Column predicate on the base column, for the
    flat-scan branch over uncovered fragments. Must be at-least-as-selective
    truth (exact for exact kinds; superset ok for inexact kinds)."""
    col = F.col(meta.column)
    if meta.index_type == "JSON":
        col = F.get_json_object(col, meta.params["path"]).cast(
            meta.params.get("value_type", "string")
        )
    base = _op_predicate(col, op, value)
    if base is not None:
        return base
    if op == "contains":
        if meta.index_type == "LABEL_LIST":
            return F.array_contains(col, value)
        return F.instr(F.lower(col), str(value).lower()) > 0
    if op == "array_has_any":
        conds = [F.array_contains(col, x) for x in value]
        out = conds[0]
        for c in conds[1:]:
            out = out | c
        return out
    if op == "array_has_all":
        conds = [F.array_contains(col, x) for x in value]
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out
    raise ValueError(f"no tail predicate for {op}")


def query_index(ds, spark: SparkSession, meta, op: str, value) -> IndexResult:
    """Answer a SargableQuery against one index (scalar.rs:350-362).

    op ∈ {'=', '<', '<=', '>', '>=', 'between', 'in', 'is_null',
          'contains', 'array_has_any', 'array_has_all'};
    value: literal | (lo, hi) | list.

    Coverage (scanner.rs:2280-2392 split, mirrored from the vector/inverted
    paths): fragments appended after the index build are NOT in the index
    tables — rowid results union a flat-scan branch over them, and
    fragment-prune results always retain them.
    """
    kind = meta.index_type
    tail = _uncovered_fragments(ds, meta)
    if not meta.fragment_ids:
        # untrained index (create_scalar_index(train=False), reference
        # test_create_empty_index.py): zero coverage — answer entirely from
        # the flat branch; exact=False forces the standard recheck filter
        flat = ds.scanner(
            spark, columns=[meta.column], with_row_id=True, fragments=tail
        )
        hits = flat.filter(_tail_predicate(meta, op, value)).select(ROWID_COL)
        return IndexResult(rowids=hits, exact=False)
    idx = _load(spark, ds, meta)

    def with_tail(res: IndexResult) -> IndexResult:
        if not tail:
            return res
        if res.fragments is not None:
            return IndexResult(
                fragments=sorted(set(res.fragments) | set(tail)), exact=res.exact
            )
        flat = ds.scanner(
            spark, columns=[meta.column], with_row_id=True, fragments=tail
        )
        tail_hits = flat.filter(_tail_predicate(meta, op, value)).select(ROWID_COL)
        rowids = (
            tail_hits if res.rowids is None else res.rowids.unionByName(tail_hits)
        )
        return IndexResult(rowids=rowids, exact=res.exact)
    if kind in ("BTREE", "JSON"):  # JSON = BTree over the extracted path
        pred = _op_predicate(F.col("value"), op, value)
        if pred is None:
            raise ValueError(f"BTREE cannot answer {op}")
        hit = idx.filter(pred)
        return with_tail(IndexResult(rowids=hit.select(ROWID_COL), exact=True))
    if kind in ("BITMAP", "LABEL_LIST"):
        v = F.col("value")
        if op in ("contains", "array_has_any", "array_has_all") and kind == "BITMAP":
            # 'contains' means array membership only on LABEL_LIST (exploded
            # elements); answering it as string equality on a plain BITMAP
            # would return exact=True false negatives for substring matches
            raise ValueError(f"BITMAP cannot answer {op}")
        if op in ("=", "contains"):  # contains = LABEL_LIST array_contains
            hit = idx.filter(v == value)
        elif op in ("in", "array_has_any"):
            hit = idx.filter(v.isin(list(value)))
        elif op == "is_null":
            hit = idx.filter(v.isNull())
        elif op == "array_has_all":
            # intersect the per-label rowid sets
            res = None
            for label in value:
                s = idx.filter(v == label).select(F.explode("rowids").alias(ROWID_COL))
                res = s if res is None else res.join(s, ROWID_COL, "left_semi")
            return with_tail(IndexResult(rowids=res, exact=True))
        else:
            raise ValueError(f"{kind} cannot answer {op}")
        return with_tail(
            IndexResult(
                rowids=hit.select(F.explode("rowids").alias(ROWID_COL)).distinct(),
                exact=True,
            )
        )
    if kind == "NGRAM":
        if op != "contains":
            raise ValueError("NGRAM answers contains() only")
        n = int(meta.params.get("n", 3))
        needle = str(value).lower()
        if len(needle) < n:
            # a sub-gram needle matches NO indexed gram of longer documents —
            # probing it would under-include (silent false negatives); refuse
            # so the filter splitter falls back to the flat recheck scan
            raise ValueError(
                f"NGRAM(n={n}) cannot answer contains({needle!r}): needle"
                " shorter than the gram size"
            )
        grams = [needle[i : i + n] for i in range(len(needle) - n + 1)]
        res = None
        for g in set(grams):
            s = idx.filter(F.col("gram") == g).select(ROWID_COL)
            res = s if res is None else res.join(s, ROWID_COL, "left_semi")
        # candidates contain all grams but maybe not contiguously → recheck
        return with_tail(IndexResult(rowids=res, exact=False))
    if kind == "ZONEMAP":
        mn, mx = F.col("min"), F.col("max")
        if op == "=":
            keep = idx.filter((mn <= value) & (mx >= value))
        elif op == "between":
            keep = idx.filter((mn <= value[1]) & (mx >= value[0]))
        elif op in ("<", "<="):
            keep = idx.filter(mn <= value)
        elif op in (">", ">="):
            keep = idx.filter(mx >= value)
        elif op == "in":
            cond = None
            for x in value:
                c = (mn <= x) & (mx >= x)
                cond = c if cond is None else (cond | c)
            keep = idx.filter(cond)
        elif op == "is_null":
            keep = idx.filter(F.col("null_count") > 0)
        else:
            raise ValueError(f"ZONEMAP cannot answer {op}")
        frs = [r["fragment_id"] for r in keep.select("fragment_id").collect()]
        return with_tail(IndexResult(fragments=frs, exact=False))
    if kind == "BLOOMFILTER":
        if op not in ("=", "in"):
            raise ValueError("BLOOMFILTER answers =/in only")
        vals = [value] if op == "=" else list(value)
        nbits = int(meta.params["nbits"])
        vt = meta.params.get("value_type")
        if vt is not None:
            # hash the literal through the SAME cast chain the build used
            # (lit → column type → string), so representation matches
            # exactly — e.g. int literal 5 probing a double column hashes
            # '5.0', not '5'
            probe = spark.range(1).select(
                F.explode(
                    F.array(*[F.lit(v).cast(vt).cast("string") for v in vals])
                ).alias("value")
            ).select(F.pmod(F.xxhash64("value"), F.lit(nbits)).alias("bit"))
        else:
            # legacy index without the recorded type: probe BOTH the Python
            # repr and the Spark literal cast — the union can only widen the
            # fragment set (bloom-safe), never prune a matching fragment
            # that either representation would keep
            py = local_df(spark, [(str(v),) for v in vals], "value string")
            lit = spark.range(1).select(
                F.explode(
                    F.array(*[F.lit(v).cast("string") for v in vals])
                ).alias("value")
            )
            probe = py.unionByName(lit).select(
                F.pmod(F.xxhash64("value"), F.lit(nbits)).alias("bit")
            )
        hit = idx.join(
            F.broadcast(probe), F.array_contains(F.col("bit_idx"), F.col("bit")), "left_semi"
        )
        frs = [r["fragment_id"] for r in hit.select("fragment_id").distinct().collect()]
        return with_tail(IndexResult(fragments=frs, exact=False))
    raise ValueError(f"unknown index type {kind}")


# --------------------------------------------------- filter → index splitting
#
# The reference extracts an index query from the WHOLE boolean tree —
# AND/OR/NOT over per-column SargableQueries, with inexact nodes marked for
# recheck (rust/lance-index/src/scalar/expression.rs:1549-1671). We parse the
# SQL filter into (and/or/not/leaf) nodes, evaluate the indexable subtree to
# a row-id set / fragment subset, and re-apply the original predicate as the
# refine filter unless the whole tree was answered exactly.


_LEAF = re.compile(
    r"^\s*`?(?P<col>\w+)`?\s*(?:"
    r"(?P<op>>=|<=|==|=|<|>)\s*(?P<lit>'[^']*'|[-0-9.]+)"
    r"|(?P<in>IN)\s*\(\s*(?P<inlist>[^)]*)\)"
    r"|(?P<between>BETWEEN)\s+(?P<lo>'[^']*'|[-0-9.]+)\s+AND\s+(?P<hi>'[^']*'|[-0-9.]+)"
    r"|(?P<isnull>IS\s+NULL)"
    r")\s*$",
    re.IGNORECASE,
)


def _parse_lit(s: str):
    s = s.strip()
    if s.startswith("'"):
        return s[1:-1]
    return float(s) if "." in s else int(s)


_INLIST_ATOM = re.compile(r"'[^']*'|[^,\s]+")


def _parse_inlist(raw: str) -> list:
    """Quote-aware IN-list split: a naive split(',') breaks quoted atoms
    containing commas ('a,b') and crashes on the fragments. Atoms are
    matched whole; anything left over besides commas/whitespace means the
    list is outside the grammar → ValueError (caller treats the leaf as
    opaque and leaves the predicate to the refine scan)."""
    atoms = _INLIST_ATOM.findall(raw)
    rest = _INLIST_ATOM.sub("", raw)
    if rest.strip(" ,\t\n") != "" or not atoms:
        raise ValueError(f"unparseable IN list: {raw!r}")
    return [_parse_lit(a) for a in atoms]


def _tokenize(s: str) -> list[str]:
    out, i = [], 0
    while i < len(s):
        c = s[i]
        if c in "()":
            out.append(c)
            i += 1
        elif c == "'":
            j = i + 1
            while j < len(s) and s[j] != "'":
                j += 1
            out.append(s[i : j + 1])
            i = j + 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(s) and not s[j].isspace() and s[j] not in "()'":
                j += 1
            out.append(s[i:j])
            i = j
    return out


class _Parser:
    """Recursive-descent over OR > AND > NOT > atom; IN-lists and BETWEEN's
    inner AND are folded into their leaf."""

    def __init__(self, tokens: list[str]):
        self.t = tokens
        self.i = 0

    def peek(self):
        return self.t[self.i] if self.i < len(self.t) else None

    def _kw(self, tok, word):
        return tok is not None and tok.upper() == word

    def parse_or(self):
        nodes = [self.parse_and()]
        while self._kw(self.peek(), "OR"):
            self.i += 1
            nodes.append(self.parse_and())
        return nodes[0] if len(nodes) == 1 else ("or", nodes)

    def parse_and(self):
        nodes = [self.parse_not()]
        while self._kw(self.peek(), "AND"):
            self.i += 1
            nodes.append(self.parse_not())
        return nodes[0] if len(nodes) == 1 else ("and", nodes)

    def parse_not(self):
        if self._kw(self.peek(), "NOT"):
            self.i += 1
            return ("not", self.parse_not())
        return self.parse_atom()

    def parse_atom(self):
        if self.peek() == "(":
            self.i += 1
            node = self.parse_or()
            assert self.peek() == ")", "unbalanced parens in filter"
            self.i += 1
            return node
        # leaf: consume until a bare AND/OR/')' — BETWEEN swallows one AND,
        # IN swallows its parenthesized list
        toks = []
        pending_between = False
        while self.i < len(self.t):
            tok = self.t[self.i]
            up = tok.upper()
            if tok == ")":
                break
            if up == "AND" and pending_between:
                pending_between = False
                toks.append(tok)
                self.i += 1
                continue
            if up in ("AND", "OR"):
                break
            if up == "BETWEEN":
                pending_between = True
            toks.append(tok)
            self.i += 1
            if up == "IN" and self.peek() == "(":
                depth = 0
                while self.i < len(self.t):
                    tok = self.t[self.i]
                    toks.append(tok)
                    self.i += 1
                    depth += tok == "("
                    depth -= tok == ")"
                    if depth == 0:
                        break
        return ("leaf", " ".join(toks))


def parse_filter_tree(filter_sql: str):
    """Parse, or return None when the grammar doesn't cover the filter —
    a partially-consumed token stream means the tree DROPPED predicates
    (e.g. ``(a = 1) != flag``); acting on the truncated tree as exact
    would silently widen results, so the caller must treat the whole
    filter as opaque (full refine scan)."""
    p = _Parser(_tokenize(filter_sql))
    try:
        tree = p.parse_or()
    except AssertionError:
        return None
    if p.i != len(p.t):
        return None
    return tree


def _eval_tree(ds, spark: SparkSession, node, by_col) -> IndexResult | None:
    """Evaluate the indexable part of the tree to an IndexResult; None =
    this subtree is opaque to every index (full refine)."""
    kind = node[0]
    if kind == "leaf":
        m = _LEAF.match(node[1])
        if not m:
            return None
        meta = by_col.get(m.group("col"))
        if meta is None:
            return None
        try:
            if m.group("op"):
                op = "=" if m.group("op") == "==" else m.group("op")
                value = _parse_lit(m.group("lit"))
            elif m.group("in"):
                op, value = "in", _parse_inlist(m.group("inlist"))
            elif m.group("between"):
                op, value = "between", (_parse_lit(m.group("lo")), _parse_lit(m.group("hi")))
            else:
                op, value = "is_null", None
        except ValueError:
            return None  # literal outside the grammar → opaque, full refine
        try:
            return query_index(ds, spark, meta, op, value)
        except ValueError:
            return None  # index can't answer this op
    if kind == "not":
        return None  # block-list NOT handling not implemented → recheck
    results = [_eval_tree(ds, spark, child, by_col) for child in node[1]]
    if kind == "and":
        rowids, fragments = None, None
        exact = all(r is not None and r.exact for r in results)
        for r in results:
            if r is None:
                continue
            if r.rowids is not None:
                rowids = r.rowids if rowids is None else rowids.join(r.rowids, ROWID_COL, "left_semi")
            if r.fragments is not None:
                if fragments is None:
                    fragments = r.fragments
                else:
                    rset = set(r.fragments)
                    fragments = [f for f in fragments if f in rset]
        if rowids is None and fragments is None:
            return None
        return IndexResult(rowids=rowids, fragments=fragments, exact=exact)
    # OR: every branch must be index-answerable, else the node is opaque
    if any(r is None for r in results):
        return None
    if all(r.rowids is not None for r in results):
        rowids = results[0].rowids
        for r in results[1:]:
            rowids = rowids.unionByName(r.rowids)
        return IndexResult(rowids=rowids.distinct(), exact=all(r.exact for r in results))
    # mixed rowid/fragment branches: fall back to the fragment union, a
    # rowid branch contributing the fragments that hold its rows
    frs: set[int] = set()
    for r in results:
        if r.fragments is not None:
            frs |= set(r.fragments)
        else:
            frs |= {
                row[0]
                for row in ds._with_fragment_id(spark, r.rowids)
                .select("fragment_id").distinct().collect()
            }
    return IndexResult(fragments=sorted(frs), exact=False)


def split_filter(ds, spark: SparkSession, filter_sql: str) -> tuple[IndexResult | None, str | None]:
    """Returns (index_result, refine_sql). refine_sql is None only when the
    whole tree was answered exactly by indexes."""
    by_col = {}
    # exact kinds first: a ZONEMAP/BLOOMFILTER created earlier must not
    # shadow a BTREE/BITMAP on the same column (fragment-granular inexact
    # prune + mandatory refine instead of an exact rowid semijoin)
    _PREF = {"BTREE": 0, "BITMAP": 1, "ZONEMAP": 2, "BLOOMFILTER": 3}
    for m in sorted(
        (i for i in ds.manifest.indices if i.index_type in _PREF),
        key=lambda i: _PREF[i.index_type],
    ):
        by_col.setdefault(m.column, m)
    if not by_col:
        return None, filter_sql
    tree = parse_filter_tree(filter_sql)
    if tree is None:
        return None, filter_sql
    res = _eval_tree(ds, spark, tree, by_col)
    if res is None:
        return None, filter_sql
    return res, (None if res.exact else filter_sql)


def scan_with_index(ds, spark: SparkSession, filter_sql: str, columns: list[str] | None = None) -> DataFrame:
    """Index-accelerated scan: evaluate the filter's indexable AND/OR tree
    to a prefilter row-id set / fragment subset, then scan with the refine
    filter (FilteredReadExec + ScalarIndexExec composition, SURVEY §2.1)."""
    res, refine = split_filter(ds, spark, filter_sql)
    return ds.scanner(
        spark,
        columns=columns,
        filter=refine,
        fragments=res.fragments if res else None,
        prefilter_rowids=res.rowids if res else None,
    )
