"""Tests for the round-1 widening: embedding near-dup, text-permutation
source round-trip (A4), querylog sampling/stamping/batched execution (A7),
hash-id vocab mode (B3), p_index (E4)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rdf_indexes_spark.operators import permutations as perm
from rdf_indexes_spark.operators import similarity as sim
from rdf_indexes_spark.operators.encode import build_vocab
from rdf_indexes_spark.operators.extract import extract_mentions
from rdf_indexes_spark.plans import querylog as ql


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


@pytest.fixture(scope="module")
def triples(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    return li.select(
        F.col("l_suppkey").alias("s"),
        F.col("l_linenumber").cast("long").alias("p"),
        F.col("l_partkey").alias("o"),
    ).dropDuplicates(["s", "p", "o"])


def _numpy_near_dup(pdf: pd.DataFrame, threshold: float) -> set[tuple[int, int]]:
    ids = pdf["vec_id"].to_numpy()
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = V @ V.T
    out = set()
    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            a, b = int(ids[i]), int(ids[j])
            if C[i, j] >= threshold:
                out.add((min(a, b), max(a, b)))
    return out


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """Synthetic clustered vectors: 40 clusters x 10 members, members are
    a shared center + small noise -> within-cluster cosine ~0.97."""
    rng = np.random.default_rng(5)
    centers = rng.standard_normal((40, 32))
    rows = []
    for cid in range(40):
        for j in range(10):
            v = centers[cid] + 0.12 * rng.standard_normal(32)
            rows.append((cid * 10 + j, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_near_dup_exact(spark, clustered_emb):
    expected = _numpy_near_dup(clustered_emb.toPandas(), 0.9)
    got = {(r["a"], r["b"]) for r in sim.embedding_near_dup(clustered_emb, 0.9).collect()}
    assert got == expected
    assert len(expected) > 0


def test_embedding_near_dup_driver_table(spark, emb):
    """Driver embeddings are near-orthogonal (max pairwise cosine ~0.48):
    exact op must agree with numpy at a low threshold too."""
    expected = _numpy_near_dup(emb.toPandas(), 0.35)
    got = {(r["a"], r["b"]) for r in sim.embedding_near_dup(emb, 0.35).collect()}
    assert got == expected


def test_embedding_near_dup_lsh_recall(spark, clustered_emb):
    exact = {(r["a"], r["b"]) for r in sim.embedding_near_dup(clustered_emb, 0.9).collect()}
    approx = {
        (r["a"], r["b"])
        for r in sim.embedding_near_dup_lsh(clustered_emb, 0.9, planes=8, tables=6).collect()
    }
    assert approx <= exact  # verify step makes it precision-1
    assert len(approx & exact) / len(exact) >= 0.8


def test_text_permutation_roundtrip(spark, triples, workdir):
    t = triples.limit(200)
    out = os.path.join(workdir, "text_export")
    perm.export_text(t, out, num_partitions=2)
    for name in ("spo", "pos", "ops"):
        back = perm.read_text_permutation(spark, os.path.join(out, f"text_{name}"), name)
        assert back.exceptAll(t).count() == 0
        assert t.exceptAll(back).count() == 0


def test_p_index(spark, triples):
    got = perm.p_index(triples).toPandas().sort_values(["p", "s"]).reset_index(drop=True)
    exp = (
        triples.select("p", "s").toPandas().drop_duplicates()
        .sort_values(["p", "s"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[["p", "s"]], exp[["p", "s"]])
    # sorted-within-partition layout: each output partition ascending
    parts = perm.p_index(triples).rdd.glom().collect()
    for part in parts:
        keys = [(r["p"], r["s"]) for r in part]
        assert keys == sorted(keys)


def test_querylog_stamp():
    t = (10, 20, 30)
    assert ql.stamp_wildcards(t, "spo", 0) == ql.Pattern(10, 20, 30)
    assert ql.stamp_wildcards(t, "spo", 1) == ql.Pattern(10, 20, None)
    assert ql.stamp_wildcards(t, "spo", 2) == ql.Pattern(10, None, None)
    assert ql.stamp_wildcards(t, "pos", 1) == ql.Pattern(None, 20, 30)
    assert ql.stamp_wildcards(t, "pos", 2) == ql.Pattern(None, 20, None)
    assert ql.stamp_wildcards(t, "osp", 2) == ql.Pattern(None, None, 30)
    assert ql.stamp_wildcards(t, "spo", 3) == ql.Pattern(None, None, None)


def test_querylog_sample_deterministic(spark, triples):
    a = ql.sample_querylog(triples, n=50, seed=7)
    b = ql.sample_querylog(triples, n=50, seed=7)
    assert a == b
    assert len(a) == 50
    assert len(set(a)) == 50


def test_querylog_batched_matches_router(spark, triples):
    tables = {name: triples for name in perm.PERM_ORDERS}
    samples = ql.sample_querylog(triples, n=12, seed=3)
    pats = [
        ql.stamp_wildcards(t, p, w)
        for t, (p, w) in zip(samples, [("spo", 0), ("spo", 1), ("spo", 2), ("pos", 1),
                                       ("pos", 2), ("osp", 2), ("spo", 1), ("pos", 1),
                                       ("osp", 2), ("spo", 2), ("pos", 2), ("spo", 0)])
    ]
    batched = ql.run_querylog_batched(tables, pats).toPandas()
    from rdf_indexes_spark.plans.router import select

    for qid, q in enumerate(pats):
        got = batched[batched.qid == qid][["s", "p", "o"]].sort_values(["s", "p", "o"])
        exp = select(tables, s=q.s, p=q.p, o=q.o).toPandas().sort_values(["s", "p", "o"])
        assert got.reset_index(drop=True).equals(exp.reset_index(drop=True)), f"qid={qid}"


_MASKS = [(1, 1, 1), (1, 1, 0), (1, 0, 0), (0, 1, 1), (0, 1, 0), (0, 0, 1), (1, 0, 1), (0, 0, 0)]


def _mask_log(triples, n: int = 16, masks=_MASKS) -> list[ql.Pattern]:
    """n sampled triples, each blanked by the next bound mask in turn."""
    samples = ql.sample_querylog(triples, n=n, seed=5)
    return [
        ql.Pattern(*[v if m else None for v, m in zip(t, masks[i % len(masks)])])
        for i, t in enumerate(samples)
    ]


def _router_rows(tables, pats) -> pd.DataFrame:
    """Per-qid router.select answers, unioned so one action collects all."""
    from functools import reduce

    from rdf_indexes_spark.plans.router import select

    parts = [
        select(tables, s=q.s, p=q.p, o=q.o).select(F.lit(qid).cast("long").alias("qid"), "s", "p", "o")
        for qid, q in enumerate(pats)
    ]
    return reduce(lambda a, b: a.unionByName(b), parts).toPandas()


def _assert_same_rows(got: pd.DataFrame, want: pd.DataFrame) -> None:
    cols = ["qid", "s", "p", "o"]
    got = got[cols].sort_values(cols).reset_index(drop=True)
    want = want[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_querylog_batched_all_masks(spark, triples):
    """Every bound mask, ??? included, over the 5-perm dict: the one-join
    plan returns exactly the router's rows per qid."""
    tables = {name: triples for name in perm.PERM_ORDERS}
    pats = _mask_log(triples)
    assert {(q.s is not None, q.p is not None, q.o is not None) for q in pats} == {
        tuple(bool(m) for m in mask) for mask in _MASKS
    }
    _assert_same_rows(ql.run_querylog_batched(tables, pats).toPandas(), _router_rows(tables, pats))


def test_querylog_batched_reduced_fallback(spark, triples):
    """A 2tp dict {spo, pos}: ??O has no table with o leading (it joins
    on the table tag alone) and S?O falls back to spo with a residual on
    o; both must still match the router per qid."""
    tables = {"spo": triples, "pos": triples}
    pats = _mask_log(triples, n=8, masks=[(0, 0, 1), (1, 0, 1), (0, 1, 0), (1, 1, 0)])
    _assert_same_rows(ql.run_querylog_batched(tables, pats).toPandas(), _router_rows(tables, pats))


def test_querylog_batched_empty_log(spark, triples):
    tables = {name: triples for name in perm.PERM_ORDERS}
    out = ql.run_querylog_batched(tables, [])
    assert out.schema.simpleString() == "struct<qid:bigint,s:bigint,p:bigint,o:bigint>"
    assert out.groupBy("qid").count().count() == 0


def test_querylog_batched_job_count(spark, triples):
    """A 7-class log whose tables all have their leading column bound is
    one broadcast build plus one scan job — not one join per class."""
    tables = {name: triples for name in perm.PERM_ORDERS}
    pats = _mask_log(triples, n=14, masks=_MASKS[:7])
    sc = spark.sparkContext
    sc.setJobGroup("querylog_job_count", "querylog job-count guard")
    try:
        n = ql.run_querylog_batched(tables, pats).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n > 0
    assert len(sc.statusTracker().getJobIdsForGroup("querylog_job_count")) <= 2


def test_literal_df_roundtrip(spark):
    """from_json literal table: exact longs beyond 2^53 and negative hash
    ids, int, double, string (quotes, escapes, non-BMP) and NULL cells;
    the empty table keeps the declared names and types."""
    from pyspark.sql.types import DoubleType, IntegerType, LongType, StringType

    from rdf_indexes_spark.functions.ranking import _literal_df

    schema = [("a", "long"), ("b", "int"), ("c", "double"), ("d", "string")]
    want_types = [("a", LongType()), ("b", IntegerType()), ("c", DoubleType()), ("d", StringType())]
    rows = [
        (2**63 - 1, 1, 1.5, "x"),
        (-(2**62) - 7, -3, 0.1, 'q"u\\o\u00e9\U0001F600'),
        (2**53 + 1, None, None, None),
        (None, 0, 1e-300, ""),
    ]
    df = _literal_df(spark, rows, schema)
    assert [(f.name, f.dataType) for f in df.schema] == want_types
    assert [tuple(r) for r in df.collect()] == rows
    empty = _literal_df(spark, [], schema)
    assert [(f.name, f.dataType) for f in empty.schema] == want_types
    assert empty.count() == 0


def test_hash_ids_vocab(spark, transcripts):
    mentions = extract_mentions(transcripts).filter(F.col("pred") != "sameAs")
    m = mentions.withColumnRenamed("subj", "cs").withColumnRenamed("obj", "co")
    v = build_vocab(m, "cs", hash_ids=True).toPandas()
    assert v["id"].nunique() == len(v)  # injective on this vocab
    got = dict(zip(v["term"], v["id"]))
    chk = (
        spark.createDataFrame([(t,) for t in v["term"]], "term string")
        .select("term", F.xxhash64("term").alias("id"))
        .toPandas()
    )
    assert dict(zip(chk["term"], chk["id"])) == got


def test_rank_remap(spark, triples):
    got = perm.rank_remap(triples).toPandas()
    t = triples.toPandas()
    ranks = (
        t[["o", "s"]].drop_duplicates().sort_values(["o", "s"]).assign(
            s_rank=lambda d: d.groupby("o").cumcount()
        )
    )
    exp = t.merge(ranks, on=["o", "s"])[["p", "o", "s_rank"]]
    key = lambda d: d.sort_values(["p", "o", "s_rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(key(got).astype("int64"), key(exp).astype("int64"))


def test_unified_write_space_stats_and_pushdown(spark, triples, workdir):
    out = os.path.join(workdir, "perms5")
    perm.write_permutations_unified(triples.limit(5000), out, num_partitions=4)
    tables = perm.read_permutations_unified(spark, out)
    n = tables["spo"].count()
    assert n == min(5000, triples.count())
    stats = perm.space_stats(spark, out, n).toPandas()
    assert len(stats) == 5 and (stats["bytes"] > 0).all() and (stats["bits_per_triple"] > 0).all()
    # plan audit: equality filters must be pushed into the FileScan and the
    # perm partition column must prune
    from rdf_indexes_spark.plans.router import select

    s0 = tables["spo"].agg(F.min("s")).first()[0]
    plan = select(tables, s=int(s0))._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "DataFilters" in plan
    assert "perm" in plan  # partition filter on the routed permutation


def test_grouped_rank_hub_no_single_task(spark):
    """A hub group (1 object x 1e5 subjects) must not funnel through one
    window task: every window in the executed plan partitions by
    (group, _pid), and the hub's rows demonstrably span >1 range
    partition. Rank values still equal the global per-group sort order."""
    from rdf_indexes_spark.functions.ranking import grouped_rank

    n_hub, n_cold = 100_000, 500
    hub = spark.range(n_hub).select(
        F.lit(7).alias("o"), (F.col("id") * 3 + 1).alias("s")
    )
    cold = spark.range(n_cold).select(
        (F.col("id") % 50 + 100).alias("o"), F.col("id").alias("s")
    )
    df = hub.unionByName(cold)
    out = grouped_rank(df, "o", ["s"], id_col="s_rank", num_partitions=16)

    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_pid" in line, f"window not partition-local: {line}"

    # hub rows span multiple range partitions (same partitioner as grouped_rank)
    pids = (
        df.repartitionByRange(16, F.col("o"), F.col("s"))
        .withColumn("_pid", F.spark_partition_id())
        .filter(F.col("o") == 7)
        .select("_pid")
        .distinct()
        .count()
    )
    assert pids > 1

    got = out.filter(F.col("o") == 7).orderBy("s").toPandas()
    assert got["s_rank"].tolist() == list(range(n_hub))
    cold_got = out.filter(F.col("o") == 120).orderBy("s").toPandas()
    assert cold_got["s_rank"].tolist() == list(range(len(cold_got)))


def test_ivf_topk_recall(spark, clustered_emb):
    """IVF with a generous quantizer must recover most of the exact top-k
    on the clustered fixture; exact re-rank means every returned neighbor
    is a true candidate with its true cosine rank order."""
    from rdf_indexes_spark.operators.similarity import brute_force_topk, ivf_topk

    queries = clustered_emb.orderBy("vec_id").limit(8)
    exact = brute_force_topk(clustered_emb, queries, k=5).toPandas()
    approx = ivf_topk(clustered_emb, queries, k=5, n_centroids=8, nprobe=4).toPandas()
    e = exact.groupby("query_id")["neighbor_id"].apply(set)
    a = approx.groupby("query_id")["neighbor_id"].apply(set)
    hits = sum(len(a.get(q, set()) & e[q]) for q in e.index)
    tot = sum(len(v) for v in e)
    assert hits / tot >= 0.6, f"IVF recall too low: {hits}/{tot}"
    # determinism: same run twice -> identical result
    approx2 = ivf_topk(clustered_emb, queries, k=5, n_centroids=8, nprobe=4).toPandas()
    assert approx.sort_values(["query_id", "rank"]).reset_index(drop=True).equals(
        approx2.sort_values(["query_id", "rank"]).reset_index(drop=True)
    )


def test_reduced_variant_build_answers_all_patterns(spark, triples, workdir):
    """A 2tp store (SPO+POS only) must answer every wildcard pattern with
    the same result as the full 5-permutation store (router fallback),
    and the read-back dict must contain ONLY the materialized perms
    (missing != empty)."""
    from rdf_indexes_spark.operators.permutations import (
        VARIANT_PERMS,
        read_permutations_unified,
        write_permutations_unified,
    )
    from rdf_indexes_spark.plans.router import select

    out = os.path.join(workdir, "perms_2tp")
    write_permutations_unified(triples, out, num_partitions=4, perms=VARIANT_PERMS["2tp"])
    reduced = read_permutations_unified(spark, out)
    assert set(reduced) == {"spo", "pos"}
    full = {name: triples for name in ("spo", "pos", "osp", "ops", "pso")}
    t0 = triples.orderBy("s", "p", "o").first()
    for mask in [(1, 1, 1), (1, 1, 0), (1, 0, 0), (0, 1, 1), (0, 1, 0), (0, 0, 1), (1, 0, 1), (0, 0, 0)]:
        kw = {c: v for c, v, m in zip("spo", (t0.s, t0.p, t0.o), mask) if m}
        got = select(reduced, **kw).toPandas().sort_values(["s", "p", "o"]).reset_index(drop=True)
        want = select(full, **kw).toPandas().sort_values(["s", "p", "o"]).reset_index(drop=True)
        assert got.equals(want), f"mask {mask}"


def test_hash_id_pipeline_uses_wide_layout(spark, transcripts, workdir):
    """--hash mode end-to-end: xxhash64 ids are 64-bit (and negative), so
    the unified write must auto-detect downcast=False and take the plain
    (unpacked) layout; read-back round-trips the triple set exactly."""
    from rdf_indexes_spark.operators.encode import build_vocab, encode_mentions
    from rdf_indexes_spark.operators.extract import extract_mentions
    from rdf_indexes_spark.operators.permutations import (
        dedup_triples,
        read_permutations_unified,
        write_permutations_unified,
    )

    m = extract_mentions(transcripts).withColumnRenamed("subj", "cs").withColumnRenamed("obj", "co")
    vocabs = {r: build_vocab(m, c, hash_ids=True) for r, c in [("s", "cs"), ("p", "pred"), ("o", "co")]}
    encoded, _ = encode_mentions(m, vocabs)
    triples = dedup_triples(encoded)
    assert triples.filter(F.col("s") < 0).count() > 0  # genuinely 64-bit ids
    out = os.path.join(workdir, "perms_hash")
    write_permutations_unified(triples, out, num_partitions=4)
    tables = read_permutations_unified(spark, out)
    want = triples.toPandas().sort_values(["s", "p", "o"]).reset_index(drop=True)
    for name in ("spo", "pos"):
        got = tables[name].toPandas().sort_values(["s", "p", "o"]).reset_index(drop=True)
        assert got.equals(want), name


def test_hub_detection_uniform_corpus(spark):
    """A near-uniform degree distribution (stddev ~ 0) must NOT mark the
    whole subject set as hubs: hub_subjects' threshold is STRICTLY above
    the mean (int(m+3sd)+1), and the broadcast side is capped. A zipf head
    must still be caught."""
    from rdf_indexes_spark.operators.permutations import hub_subjects
    from rdf_indexes_spark.pipeline import _vocab_hints

    # every subject appears exactly once -> zero hubs
    uniform = spark.range(1000).selectExpr("id as s", "0L as p", "id as o")
    assert hub_subjects(uniform).count() == 0

    # same distribution through the pipeline's vocab-derived hint path
    ranked = spark.range(1000).selectExpr(
        "'s' as role", "cast(id as string) as term", "id", "1L as cnt"
    )
    vocab_s = ranked.select("term", "id", "cnt")
    _, hubs, downcast = _vocab_hints(ranked, vocab_s)
    assert hubs.count() == 0
    assert downcast is True

    # a genuine hub (one subject owning 30% of triples) is still detected
    skewed = uniform.union(
        spark.range(500).selectExpr("999999L as s", "1L as p", "id as o")
    )
    got = hub_subjects(skewed)
    assert [r["s"] for r in got.collect()] == [999999]


def test_encode_join_strategy_size_gated(spark, transcripts):
    """encode_mentions picks its dictionary-join strategy per role from
    the vocab sizes: below the threshold a broadcast (the reference's
    in-memory dict probe), above it a shuffle hash join — a billion-term
    vocabulary must never be collected to the driver/executors."""
    from rdf_indexes_spark.operators.encode import build_vocabs_fused, encode_mentions, role_vocabs
    from rdf_indexes_spark.operators.extract import extract_mentions

    m = (
        extract_mentions(transcripts)
        .withColumnRenamed("subj", "cs")
        .withColumnRenamed("obj", "co")
    )
    vocabs = role_vocabs(build_vocabs_fused(m))
    small = {"s": 10, "p": 10, "o": 10}
    enc_small, _ = encode_mentions(m, vocabs, sizes=small)
    plan = enc_small._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 3, plan[:1500]

    big = {"s": 10**10, "p": 10, "o": 10**10}  # s and o vocabs too big
    enc_big, _ = encode_mentions(m, vocabs, sizes=big)
    plan = enc_big._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 1, plan[:1500]
    assert plan.count("ShuffledHashJoin") == 2, plan[:1500]
    # results identical either way
    a = sorted(tuple(r) for r in enc_small.select("s", "p", "o").collect())
    b = sorted(tuple(r) for r in enc_big.select("s", "p", "o").collect())
    assert a == b


def test_semantic_dedup_k1_equals_global_exact(spark, emb):
    """SemDeDup with one cluster IS the global exact near-dup keep:
    identical survivor set (nontrivial at threshold 0.35: ~250 drops)."""
    from rdf_indexes_spark.operators.dedup import near_dup_keep

    ids = emb.select(F.col("vec_id").cast("long").alias("vec_id"))
    exact = near_dup_keep(
        ids, sim.embedding_near_dup_blocked(emb, threshold=0.35), id_col="vec_id"
    )
    got = sim.semantic_dedup(emb, threshold=0.35, n_clusters=1)
    a = {r[0] for r in exact.collect()}
    b = {r[0] for r in got.collect()}
    assert a == b
    assert len(a) < emb.count()  # the threshold actually fired


def test_semantic_dedup_precision_and_recall(spark, clustered_emb):
    """On tight clusters (within-cluster cosine ~0.97) SemDeDup keeps
    precision 1.0 by construction (exact verify inside each cluster) and
    high recall (near-identical vectors co-cluster)."""
    from rdf_indexes_spark.operators.dedup import near_dup_keep

    th = 0.9
    all_ids = {r[0] for r in clustered_emb.select("vec_id").collect()}
    ids = clustered_emb.select(F.col("vec_id").cast("long").alias("vec_id"))
    exact_keep = {
        r[0]
        for r in near_dup_keep(
            ids, sim.embedding_near_dup_blocked(clustered_emb, threshold=th), id_col="vec_id"
        ).collect()
    }
    sem_keep = {
        r[0]
        for r in sim.semantic_dedup(clustered_emb, threshold=th, n_clusters=16).collect()
    }
    exact_drop = all_ids - exact_keep
    sem_drop = all_ids - sem_keep
    assert exact_drop  # the fixture really has near-dups
    assert sem_drop <= exact_drop  # precision 1.0: every drop is real
    assert len(sem_drop) / len(exact_drop) >= 0.8  # recall on tight dups


def test_semantic_dedup_cluster_splitting(spark, clustered_emb):
    """block_rows smaller than a cluster forces the (cid, pi, pj)
    sub-block path; results must not change."""
    a = {r[0] for r in sim.semantic_dedup(clustered_emb, threshold=0.9, n_clusters=8).collect()}
    b = {
        r[0]
        for r in sim.semantic_dedup(
            clustered_emb, threshold=0.9, n_clusters=8, block_rows=16
        ).collect()
    }
    assert a == b


def test_pq_topk_recall_and_determinism(spark, emb, clustered_emb):
    """PQ ADC top-k vs brute force: strong recall even on unclustered
    gaussian vectors (the hard case), near-exact on clustered ones;
    deterministic across runs (seeded codebooks, lexsort tie rule)."""
    for corpus, floor in ((emb, 0.7), (clustered_emb, 0.8)):
        qids = [r.vec_id for r in corpus.orderBy("vec_id").limit(10).collect()]
        q = corpus.filter(corpus.vec_id.isin(qids))
        exact = sim.brute_force_topk(corpus, q, k=5).toPandas()
        approx = sim.pq_topk(corpus, q, k=5, m=16, ks=32, overscan=8).toPandas()
        hits = tot = 0
        for qid in qids:
            e = set(exact[exact.query_id == qid].neighbor_id)
            a = set(approx[approx.query_id == qid].neighbor_id)
            hits += len(e & a)
            tot += len(e)
        assert hits / tot >= floor, (floor, hits, tot)
    again = sim.pq_topk(clustered_emb,
                        clustered_emb.filter(clustered_emb.vec_id < 10),
                        k=5, m=16, ks=32, overscan=8).toPandas()
    once = sim.pq_topk(clustered_emb,
                       clustered_emb.filter(clustered_emb.vec_id < 10),
                       k=5, m=16, ks=32, overscan=8).toPandas()
    key = ["query_id", "rank"]
    assert once.sort_values(key).reset_index(drop=True).equals(
        again.sort_values(key).reset_index(drop=True)
    )


def test_pq_topk_injected_codebook_exact(spark, emb):
    """The oracle-parity seam: an injected codebook (faiss-style
    pretrained quantizer) skips the trainer, and normalize=False keeps
    integer-valued vectors integer through encode + ADC — with overscan
    covering the whole corpus the result must EQUAL brute force (the
    ADC pre-filter drops nothing, the exact re-rank decides), and the
    injected path must be partition-count invariant."""
    import numpy as np

    from pyspark.sql import functions as F

    qv = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * 1000).cast("double"),
        ).alias("embedding"),
    )
    anchors = qv.orderBy("vec_id").limit(8).collect()
    flat = np.array([r["embedding"] for r in anchors], dtype=np.float64)
    dsub = flat.shape[1] // 8
    books = np.stack([flat[:, j * dsub : (j + 1) * dsub] for j in range(8)])
    q = qv.filter(qv.vec_id < 5)
    n = qv.count()
    exact = sim.brute_force_topk(qv, q, k=5).toPandas()
    key = ["query_id", "rank"]
    full = sim.pq_topk(
        qv, q, k=5, overscan=-(-n // 5), books=books, normalize=False
    ).toPandas()
    assert full[key + ["neighbor_id"]].sort_values(key).reset_index(drop=True).equals(
        exact[key + ["neighbor_id"]].sort_values(key).reset_index(drop=True)
    )
    one = sim.pq_topk(
        qv.repartition(1), q, k=5, overscan=4, books=books, normalize=False
    ).toPandas()
    eight = sim.pq_topk(
        qv.repartition(8), q, k=5, overscan=-(-n // 5), books=books, normalize=False
    ).toPandas()
    assert len(one) == 25 and list(one.columns) == [
        "query_id", "neighbor_id", "rank", "cosine",
    ]
    assert eight[key + ["neighbor_id"]].sort_values(key).reset_index(drop=True).equals(
        exact[key + ["neighbor_id"]].sort_values(key).reset_index(drop=True)
    )


def test_pq_encode_shape(spark, emb):
    """Codes are m small ints per vector — the 32x compression that makes
    the 100 TB scan read m bytes instead of the embedding column."""
    books = sim._pq_train(emb, 8, 16, "vec_id", "embedding")
    assert books.shape == (8, 16, 8)
    codes = sim.pq_encode(emb, books).toPandas()
    assert len(codes) == emb.count()
    assert all(len(c) == 8 for c in codes["codes"])
    assert all(0 <= v < 16 for c in codes["codes"] for v in c)


def test_knn_graph_block_invariance_and_brute_parity(spark, emb):
    from rdf_indexes_spark.operators.similarity import brute_force_topk, knn_graph

    def key(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"]) for r in df.collect()
        )

    g1 = key(knn_graph(emb, k=4, blocks=1))
    g3 = key(knn_graph(emb, k=4, blocks=3))
    assert g1 == g3  # block partitioning must not change the graph
    brute = key(brute_force_topk(emb, emb, k=4))
    assert g1 == brute  # every-vector-as-query == the collected-query path


def test_embedding_norm_stats_exact(spark, emb):
    """Exact numpy recount of the quantized-norm census (per label)."""
    import math

    from rdf_indexes_spark.operators.similarity import embedding_norm_stats

    got = {r.grp: r for r in embedding_norm_stats(emb).collect()}
    pdf = emb.toPandas()
    want: dict[int, list[int]] = {}
    for _, row in pdf.iterrows():
        n2 = sum(int(math.floor(float(x) * 1000)) ** 2 for x in row["embedding"])
        want.setdefault(int(row["label"]), []).append(n2)
    assert set(got) == set(want)
    for g, norms in want.items():
        r = got[g]
        assert (r.n_vecs, r.min_norm2_q, r.max_norm2_q, r.sum_norm2_q, r.n_zero) == (
            len(norms), min(norms), max(norms), sum(norms), sum(1 for v in norms if v == 0)
        )


def test_rrf_fuse_golden(spark):
    """Hand-checked fusion: integer-division contributions, full-outer
    semantics (single-list docs score with one term), id tie-break."""
    from rdf_indexes_spark.functions.ranking import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank long")
    b = spark.createDataFrame([(2, 1), (4, 2)], "doc_id long, rank long")
    out = {r.doc_id: r for r in rrf_fuse([a, b], k0=60, k=10).collect()}
    c = lambda r: 1_000_000_000 // (60 + r)  # noqa: E731
    assert out[2].score_x1e9 == c(2) + c(1) and out[2].n_lists == 2
    assert out[1].score_x1e9 == c(1) and out[1].n_lists == 1
    assert out[4].score_x1e9 == c(2)
    # doc 2 (both lists) outranks doc 1 (rank-1 in one list)
    assert out[2].rank == 1 and out[1].rank == 2
    # tie-break by id: docs 3 (rank 3 in a) vs hypothetical equals —
    # verify full ordering is deterministic and dense
    assert sorted(r.rank for r in out.values()) == [1, 2, 3, 4]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rrf_fuse([])


def test_rrf_fuse_topk_truncation(spark):
    from rdf_indexes_spark.functions.ranking import rrf_fuse

    a = spark.createDataFrame([(i, i + 1) for i in range(20)], "doc_id long, rank long")
    out = rrf_fuse([a], k=5).collect()
    assert len(out) == 5
    assert [r.doc_id for r in sorted(out, key=lambda r: r.rank)] == [0, 1, 2, 3, 4]
