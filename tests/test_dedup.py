"""Dedup family vs small pandas/numpy oracles on the driver testdata."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from rdf_indexes_spark.operators import dedup as D

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").persist()


@pytest.fixture(scope="module")
def docs_pdf(docs):
    return docs.toPandas()


def _tok(text: str) -> set:
    return set(str(text).lower().strip().split())


def test_exact_dedup(docs, docs_pdf):
    got = D.exact_dedup(docs).toPandas().sort_values("doc_id").reset_index(drop=True)
    keep = docs_pdf.groupby("text")["doc_id"].min().rename("keep_id")
    want = docs_pdf.join(keep, on="text")[["doc_id", "keep_id"]].sort_values("doc_id").reset_index(drop=True)
    assert got[["doc_id", "keep_id"]].equals(want)
    assert (got["doc_id"] != got["keep_id"]).sum() == (len(docs_pdf) - docs_pdf["text"].nunique())


def test_minhash_properties(docs, docs_pdf):
    sigs = D.minhash_signatures(docs, num_hashes=32).toPandas().set_index("doc_id")["sig"]
    # identical texts → identical signatures
    dup = docs_pdf[docs_pdf.duplicated("text", keep=False)].groupby("text")["doc_id"].apply(list)
    for ids in dup:
        base = list(sigs[ids[0]])
        for i in ids[1:]:
            assert list(sigs[i]) == base
    # signature length + determinism across invocations
    sigs2 = D.minhash_signatures(docs, num_hashes=32).toPandas().set_index("doc_id")["sig"]
    assert all(list(a) == list(b) for a, b in zip(sigs, sigs2))
    assert all(len(s) == 32 for s in sigs)


def test_lsh_finds_exact_dups_and_jaccard_verifies(docs, docs_pdf):
    pairs = D.minhash_lsh_pairs(docs, num_hashes=32, bands=8).toPandas()
    got_pairs = set(zip(pairs.a, pairs.b))
    # every exact-duplicate pair must be an LSH candidate (identical sigs)
    for _, ids in docs_pdf[docs_pdf.duplicated("text", keep=False)].groupby("text")["doc_id"]:
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                assert (ids[i], ids[j]) in got_pairs
    # exact-verify candidates with jaccard; compare against pandas on those pairs
    ver = D.ngram_jaccard_pairs(docs, threshold=0.8, candidates=None).toPandas()
    toks = {r.doc_id: _tok(r.text) for r in docs_pdf.itertuples()}
    for r in ver.itertuples():
        ta, tb = toks[r.a], toks[r.b]
        want = len(ta & tb) / len(ta | tb)
        assert abs(r.jaccard - want) < 1e-9
        assert want >= 0.8


def test_simhash_vs_numpy_oracle(spark, docs, docs_pdf):
    import pyspark.sql.functions as F

    got = D.simhash(docs).toPandas().set_index("doc_id")["simhash"]
    # oracle: same token hashing via Spark (xxhash64 is JVM-side), bit votes in numpy
    th = (
        docs.select("doc_id", F.transform(D.tokens_col("text"), lambda t: F.xxhash64(t)).alias("th"))
        .toPandas()
        .set_index("doc_id")["th"]
    )
    shifts = np.arange(64, dtype=np.uint64)
    for did, toks in th.items():
        arr = np.asarray(toks, dtype=np.int64).astype(np.uint64)
        if arr.size == 0:
            want = 0
        else:
            bits = (arr[:, None] >> shifts[None, :]) & np.uint64(1)
            votes = 2 * bits.sum(axis=0).astype(np.int64) - arr.size
            want = int(((votes >= 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
            if want >= 1 << 63:
                want -= 1 << 64
        assert got[did] == want
    # identical docs collide; near-pair finder returns hamming<=3 pairs
    near = D.simhash_near_pairs(D.simhash(docs), max_hamming=3).toPandas()
    sim_by_id = got.to_dict()
    for r in near.itertuples():
        ham = bin((sim_by_id[r.a] ^ sim_by_id[r.b]) & ((1 << 64) - 1)).count("1")
        assert ham <= 3 and ham == r.hamming


def test_embedding_blocked_matches_numpy_any_block_count(spark):
    """The block-pair exact path must be invariant to the block count and
    equal the O(N^2) numpy oracle (the gate may run it at blocks=1; scale
    runs use many blocks — same answer required)."""
    from rdf_indexes_spark.operators.similarity import embedding_near_dup_blocked

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas()
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    C = Mn @ Mn.T
    ii, jj = np.nonzero(np.triu(C >= 0.35, k=1))
    want = {(min(a, b), max(a, b)) for a, b in zip(ids[ii], ids[jj])}
    for nb in (1, 4, 7):
        got = embedding_near_dup_blocked(emb, threshold=0.35, blocks=nb).toPandas()
        assert set(zip(got.a, got.b)) == want, f"blocks={nb}"


def test_exact_dedup_never_shuffles_text(docs):
    """Scale contract: the raw document text must not ride ANY exchange —
    both the groupBy and the join-back key on the 128-bit fingerprint
    (at 100 TB, text on the shuffle wire = the whole corpus twice)."""
    plan = D.exact_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line
    assert "_h0" in plan  # fingerprint key actually drives the plan


def test_near_dup_keep_chain_clusters(spark):
    """Survivor selection must follow TRANSITIVE near-dup closure: a~b,
    b~c (but a!~c directly) still collapses {a,b,c} to one survivor.
    Chains longer than the CC fixed-round count exercise the
    verification-loop continuation. Oracle: python union-find."""
    from rdf_indexes_spark.operators.dedup import near_dup_keep

    # docs 0..19; chain 0-1-2-...-9 (one cluster), pair (12,17), rest single
    edges = [(i, i + 1) for i in range(9)] + [(12, 17)]
    docs = spark.range(20).selectExpr("id as doc_id")
    pairs = spark.createDataFrame(edges, "a long, b long")
    got = sorted(r["doc_id"] for r in near_dup_keep(docs, pairs).collect())

    parent = list(range(20))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]; x = parent[x]
        return x
    for a, b in edges:
        parent[find(a)] = find(b)
    clusters = {}
    for d in range(20):
        clusters.setdefault(find(d), []).append(d)
    want = sorted(min(m) for m in clusters.values())
    assert got == want == [0] + list(range(10, 12)) + [12] + list(range(13, 17)) + list(range(18, 20))


def test_line_dedup_first_occurrence_wins(spark):
    from rdf_indexes_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "hello\nworld\nfoo"),
            (2, "world\nbar\nhello"),  # world+hello repeat -> cut here
            (3, "hello\nhello"),       # both occurrences cut (first is doc1)
            (4, "unique line"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in line_dedup(docs).collect()}
    assert got == {
        1: "hello\nworld\nfoo",
        2: "bar",
        3: "",
        4: "unique line",
    }


def test_line_dedup_threshold_and_sep(spark):
    from rdf_indexes_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "p q"), (2, "q r"), (3, "q s")],
        "doc_id long, text string",
    )
    # min_repeat=3: 'q' occurs 3x -> kept only at (doc 1, pos 1)
    got = {r["doc_id"]: r["text"] for r in line_dedup(docs, sep=" ", min_repeat=3).collect()}
    assert got == {1: "p q", 2: "r", 3: "s"}
    # min_repeat=4: nothing reaches the threshold -> identity
    got = {r["doc_id"]: r["text"] for r in line_dedup(docs, sep=" ", min_repeat=4).collect()}
    assert got == {1: "p q", 2: "q r", 3: "q s"}


def test_line_dedup_idempotent_on_real_docs(spark):
    """Applying line_dedup twice == once (the survivor set is already
    globally unique below the threshold), on real test documents split
    at a token boundary both engines can derive."""
    from pyspark.sql import functions as F

    from rdf_indexes_spark.operators.dedup import line_dedup

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", F.regexp_replace("text", " table", "\ntable").alias("text"))
    )
    once = line_dedup(docs)
    twice = line_dedup(once)
    assert once.exceptAll(twice).isEmpty() and twice.exceptAll(once).isEmpty()


def test_duplicate_spans_golden(spark):
    """k=4 windows: 'a b c d' occurs at (1,1), (1,5), (2,3) — first
    occurrence (1,1) survives, the rest are reported with occ=3; the
    'z z a b' etc. windows are unique; doc 3 is shorter than k (no
    windows). Scale (xxhash64) and portable (md5) keys agree."""
    from rdf_indexes_spark.operators.dedup import duplicate_spans

    df = spark.createDataFrame(
        [(1, "a b c d a b c d x"), (2, "z z a b c d q"), (3, "short one")],
        "doc_id long, text string",
    )
    want = [(1, 5, 3), (2, 3, 3)]
    for fp in ("xxhash64", "md5"):
        got = sorted(
            (r.doc_id, r.pos, r.occ)
            for r in duplicate_spans(df, k=4, fingerprint=fp).collect()
        )
        assert got == want, fp


def test_duplicate_spans_python_recount(spark, docs):
    """Pin against a direct python recount on real synthetic documents:
    same tokenization, all duplicated k-windows minus first occurrences."""
    from collections import defaultdict

    from rdf_indexes_spark.operators.dedup import duplicate_spans

    k = 5
    rows = docs.select("doc_id", "text").collect()
    occs = defaultdict(list)
    for r in rows:
        ts = r.text.strip().lower().split()
        for p in range(len(ts) - k + 1):
            occs[" ".join(ts[p : p + k])].append((r.doc_id, p + 1))
    want = sorted(
        (d, p, len(v))
        for v in occs.values()
        if len(v) >= 2
        for d, p in sorted(v)[1:]
    )
    got = sorted(
        (r.doc_id, r.pos, r.occ)
        for r in duplicate_spans(docs, k=k).collect()
    )
    assert got == want


def test_duplicate_spans_min_repeat_and_short_docs(spark):
    from rdf_indexes_spark.operators.dedup import duplicate_spans

    df = spark.createDataFrame(
        [(1, "p q r s"), (2, "p q r s"), (3, "p q r s"), (4, "p q")],
        "doc_id long, text string",
    )
    # min_repeat=3: the window occurs 3 times -> report (2,1) and (3,1)
    got = sorted(
        (r.doc_id, r.pos, r.occ)
        for r in duplicate_spans(df, k=4, min_repeat=3).collect()
    )
    assert got == [(2, 1, 3), (3, 1, 3)]
    # min_repeat=4: nothing clears the bar
    assert duplicate_spans(df, k=4, min_repeat=4).count() == 0


def test_winnow_fingerprints_guarantee_and_machinery(spark):
    """MOSS guarantee: docs sharing a token run >= w+k-1 share >= 1
    fingerprint; unrelated docs share none. Array and window selection
    machineries are identical under the same hash; sketch density is
    far below the full gram set."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, "x1 x2 x3 " + shared + " y1 y2"),
            (2, "z9 z8 " + shared + " q5"),
            (3, "totally different words here nothing in common at all"),
            (4, "tiny"),
        ],
        "doc_id long, text string",
    )
    fa = D.winnow_fingerprints(df, k=3, w=4)
    fw = D.winnow_fingerprints(df, k=3, w=4, method="window")
    a = sorted(tuple(r) for r in fa.collect())
    b = sorted(tuple(r) for r in fw.collect())
    assert a == b and a  # identical machineries, nonempty
    cand = {(r.a, r.b): r.shared for r in D.winnow_candidates(fa, min_shared=1).collect()}
    assert (1, 2) in cand and cand[(1, 2)] >= 1  # the guarantee
    assert all(p == (1, 2) for p in cand)  # no false candidates
    # doc 4 (< w grams) emits nothing
    assert fa.filter("doc_id = 4").count() == 0


def test_winnow_fingerprints_python_recount(spark, docs):
    """Pin the array path against a direct python winnow (xxhash64
    replayed via the window machinery is covered by equality above;
    here: selection positions and density on real documents)."""
    k, w = 5, 4
    got = D.winnow_fingerprints(docs, k=k, w=w, fingerprint="portable").toPandas()
    P = (1 << 31) - 1

    def gram_hash(g):
        acc = 0
        for ch in g:
            acc = (acc * 31 + ord(ch)) % P
        return acc

    import collections
    want = []
    for r in docs.select("doc_id", "text").collect():
        ts = r.text.strip().lower().split()
        n = len(ts) - (k - 1)
        if n < w:
            continue
        hs = [gram_hash(" ".join(ts[p : p + k])) for p in range(n)]
        sel = set()
        for j in range(n - w + 1):
            win = hs[j : j + w]
            mn = min(win)
            sel.add((j + win.index(mn) + 1, mn))
        want.extend((r.doc_id, p, h) for p, h in sel)
    assert sorted(map(tuple, got.itertuples(index=False))) == sorted(want)


def test_near_dup_keep_longest_policy(spark):
    """weight_col survivor policy: the max-weight member of each
    component survives (tie -> min id); unpaired docs always survive;
    default min-id policy unchanged."""
    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (5, 99), (6, 1)],
        "doc_id long, n_tokens long",
    )
    # components: {1,2,3} (chain), {4,6}; 5 unpaired
    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 6)], "a long, b long")
    got = sorted(
        r[0] for r in D.near_dup_keep(docs, pairs, weight_col="n_tokens").collect()
    )
    # {1,2,3}: weights 10/30/30 -> tie on 30 -> min id 2; {4,6}: 4 wins (5>1)
    assert got == [2, 4, 5]
    # default policy: min id per component
    got_min = sorted(r[0] for r in D.near_dup_keep(docs, pairs).collect())
    assert got_min == [1, 4, 5]


def test_keep_best_golden(spark):
    import pytest

    from rdf_indexes_spark.operators.dedup import keep_best

    df = spark.createDataFrame(
        [
            ("k1", 10, 0.5, "low"), ("k1", 11, 0.9, "hi"),
            ("k2", 20, 0.7, "a"), ("k2", 19, 0.7, "b"),  # tie → smaller id
            ("k3", 30, 0.1, "solo"),
        ],
        "url string, doc_id long, score double, text string",
    )
    got = {r.url: (r.doc_id, r.text)
           for r in keep_best(df, ["url"], "score").collect()}
    assert got == {"k1": (11, "hi"), "k2": (19, "b"), "k3": (30, "solo")}
    # layout invariance
    again = {r.url: (r.doc_id, r.text)
             for r in keep_best(df.repartition(5), ["url"], "score").collect()}
    assert again == got
    with pytest.raises(ValueError):
        keep_best(df, [], "score")
    with pytest.raises(ValueError):
        keep_best(df, ["url"], "url")
