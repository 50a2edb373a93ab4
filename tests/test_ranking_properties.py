"""Property-based tests (hypothesis) for the distributed rank helpers —
the machinery under B2 dense ids and E5 rank remap. For arbitrary
(group, value) multisets with duplicates and ties, both the
driver-offset (dense_ids, with and without a group key) and
fully-distributed (grouped_rank) implementations must emit, per group,
a dense 0..k-1 rank permutation whose order agrees with the requested
sort order (ties may break either way, but tied rows must occupy a
contiguous rank block)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rdf_indexes_spark.functions.ranking import dense_ids, grouped_rank

ROWS = st.lists(
    st.tuples(st.integers(0, 3), st.integers(-50, 50)), min_size=1, max_size=60
)


def _check(rows, out_rows):
    by_group: dict[int, list[tuple[int, int]]] = {}
    for r in out_rows:
        by_group.setdefault(r["g"], []).append((r["rank"], r["v"]))
    # same multiset of (group, value) in and out
    assert sorted((r["g"], r["v"]) for r in out_rows) == sorted(rows)
    for vals in by_group.values():
        ranks = sorted(r for r, _ in vals)
        assert ranks == list(range(len(vals)))  # dense 0..k-1
        # reading values in rank order must be a valid ascending sort
        in_rank_order = [v for _, v in sorted(vals)]
        assert in_rank_order == sorted(in_rank_order)


@settings(max_examples=8, deadline=None)
@given(rows=ROWS)
def test_grouped_rank_is_dense_per_group_sort(spark, rows):
    df = spark.createDataFrame(rows, "g int, v int")
    out = grouped_rank(df, "g", [F.asc("v")], id_col="rank", num_partitions=5)
    _check(rows, out.collect())


@pytest.mark.parametrize("group_col", ["g", None], ids=["grouped", "ungrouped"])
@settings(max_examples=8, deadline=None)
@given(rows=ROWS)
def test_dense_ids_matches_contract(spark, group_col, rows):
    if group_col is None:  # one group: the ungrouped rank is global
        rows = [(0, v) for _, v in rows]
    df = spark.createDataFrame(rows, "g int, v int")
    out = dense_ids(df, [F.asc("v")], id_col="rank", group_col=group_col, num_partitions=5)
    _check(rows, out.collect())


# ---- windowed text operators vs pure-python models (adversarial docs) ----

_WORD = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters=" \t\n\r\x0b\x0c",
                           min_codepoint=33),
    min_size=1,
    max_size=6,
)
_DOC = st.lists(_WORD, min_size=0, max_size=25).map(" ".join)
_DOCS = st.lists(_DOC, min_size=1, max_size=8)


def _toks(t: str) -> list[str]:
    return t.strip().lower().split()


@settings(max_examples=6, deadline=None)
@given(docs=_DOCS, k=st.integers(1, 5))
def test_duplicate_spans_matches_python_model(spark, docs, k):
    from collections import defaultdict

    from rdf_indexes_spark.operators.dedup import duplicate_spans

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    occs = defaultdict(list)
    for d, t in enumerate(docs):
        ts = _toks(t)
        for p in range(len(ts) - k + 1):
            occs[" ".join(ts[p : p + k])].append((d, p + 1))
    want = sorted(
        (d, p, len(v)) for v in occs.values() if len(v) >= 2 for d, p in sorted(v)[1:]
    )
    got = sorted(
        (r.doc_id, r.pos, r.occ) for r in duplicate_spans(df, k=k).collect()
    )
    assert got == want


@settings(max_examples=6, deadline=None)
@given(docs=_DOCS, c=st.integers(1, 6), s=st.integers(1, 6))
def test_chunk_documents_matches_python_model(spark, docs, c, s):
    from rdf_indexes_spark.operators.textops import chunk_documents

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    want = []
    for d, t in enumerate(docs):
        ts = t.strip().split()
        if not ts:
            continue
        starts = range(0, len(ts), s)
        for i, p in enumerate(starts):
            chunk = ts[p : p + c]
            want.append((d, i, len(chunk), " ".join(chunk)))
    got = sorted(
        (r.doc_id, r.chunk_idx, r.n_tokens, r.text)
        for r in chunk_documents(df, c, s).collect()
    )
    assert got == sorted(want)


@settings(max_examples=6, deadline=None)
@given(docs=_DOCS, k=st.integers(1, 4), w=st.integers(1, 5))
def test_winnow_matches_python_model(spark, docs, k, w):
    from rdf_indexes_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    P = (1 << 31) - 1

    def gh(g):
        acc = 0
        for ch in g:
            acc = (acc * 31 + ord(ch)) % P
        return acc

    want = set()
    for d, t in enumerate(docs):
        ts = _toks(t)
        n = len(ts) - (k - 1)
        if n < w:
            continue
        hs = [gh(" ".join(ts[p : p + k])) for p in range(n)]
        for j in range(n - w + 1):
            win = hs[j : j + w]
            mn = min(win)
            want.add((d, j + win.index(mn) + 1, mn))
    got = {
        (r.doc_id, r.pos, r.gram_hash)
        for r in winnow_fingerprints(df, k=k, w=w, fingerprint="portable").collect()
    }
    assert got == want


def test_exact_quantiles_matches_python_sort(spark):
    """Nearest-rank parity with a python sort, duplicates included,
    at several partitionings."""
    import random

    from rdf_indexes_spark.functions.ranking import exact_quantiles

    rng = random.Random(17)
    vals = [rng.randrange(0, 500) for _ in range(3000)]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    s = sorted(vals)
    n = len(vals)
    pm = (1, 250, 500, 900, 990, 1000)
    want = {p: s[(p * n + 999) // 1000 - 1] for p in pm}
    for frame in (df, df.repartition(17)):
        got = {
            r.permille: r.value
            for r in exact_quantiles(frame, "x", permille=pm).collect()
        }
        assert got == want
        out = exact_quantiles(frame, "x", permille=pm).collect()
        assert all(r.n == n for r in out)
        assert all(r.rank == (r.permille * n + 999) // 1000 for r in out)


def test_exact_quantiles_errors(spark):
    import pytest as _pytest

    from rdf_indexes_spark.functions.ranking import exact_quantiles

    df = spark.createDataFrame([(1,)], "x long")
    with _pytest.raises(ValueError):
        exact_quantiles(df, "x", permille=(0,))
    with _pytest.raises(ValueError):
        exact_quantiles(df.filter("x > 5"), "x")


def test_grouped_quantiles_python_parity(spark):
    """Exact nearest-rank per group vs a python sort, with duplicates
    and group sizes 1..n; global exact_quantiles agreement on a single
    group."""
    import random

    from rdf_indexes_spark.functions.ranking import exact_quantiles, grouped_quantiles

    rng = random.Random(5)
    rows = [(f"g{rng.randrange(4)}", rng.randrange(20)) for _ in range(300)]
    rows += [("solo", 42)]
    df = spark.createDataFrame(rows, "g string, v long")
    pms = (1, 250, 500, 990, 1000)
    got = {
        (r.g, r.permille): (r.rank, r.value, r.n)
        for r in grouped_quantiles(df, ["g"], "v", pms).collect()
    }
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    want = {}
    for g, vs in by_g.items():
        vs.sort()
        n = len(vs)
        for pm in pms:
            rk = (pm * n + 999) // 1000
            want[(g, pm)] = (rk, vs[rk - 1], n)
    assert got == want
    # single-group frame ties out with the global operator
    solo = spark.createDataFrame([( "x", v) for v in range(1, 8)], "g string, v long")
    gq = {(r.permille): (r.rank, r.value) for r in grouped_quantiles(solo, ["g"], "v").collect()}
    eq = {(r.permille): (r.rank, r.value) for r in exact_quantiles(solo, "v").collect()}
    assert gq == eq


def test_grouped_quantiles_errors(spark):
    import pytest

    from rdf_indexes_spark.functions.ranking import grouped_quantiles

    df = spark.createDataFrame([("a", 1)], "g string, v long")
    with pytest.raises(ValueError):
        grouped_quantiles(df, [], "v")
    with pytest.raises(ValueError):
        grouped_quantiles(df, ["g"], "v", (0,))
    with pytest.raises(ValueError):
        grouped_quantiles(df, ["g"], "v", (1001,))
