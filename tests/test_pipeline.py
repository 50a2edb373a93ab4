"""Golden equality: Spark pipeline vs the pure-pandas oracle.

Mirrors the reference's test strategy — exhaustive triple-for-triple
equality against an independent implementation
(/root/reference/test/check_index.cpp:9-40) — with the pandas oracle
playing the role of the sorted text files.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from rdf_indexes_spark.oracle import run_oracle
from rdf_indexes_spark.pipeline import run_pipeline


@pytest.fixture(scope="session")
def golden(corpus):
    return run_oracle(corpus.transcripts)


@pytest.fixture(scope="session")
def artifacts(spark, transcripts, workdir):
    return run_pipeline(spark, transcripts, os.path.join(workdir, "pipe"), input_id="test600")


def _sorted_pdf(df, sort_cols, cols=None):
    pdf = df.toPandas().sort_values(sort_cols, kind="stable").reset_index(drop=True)
    return pdf[cols] if cols is not None else pdf


def test_mentions_match_truth(artifacts, corpus):
    got = _sorted_pdf(
        artifacts.mentions,
        ["conv_id", "turn_idx", "mention_idx"],
        ["conv_id", "turn_idx", "mention_idx", "subj", "pred", "obj"],
    )
    want = (
        corpus.true_mentions.rename(columns={})[
            ["conv_id", "turn_idx", "mention_idx", "subj", "pred", "obj"]
        ]
        .sort_values(["conv_id", "turn_idx", "mention_idx"], kind="stable")
        .reset_index(drop=True)
    )
    got["turn_idx"] = got["turn_idx"].astype("int64")
    got["mention_idx"] = got["mention_idx"].astype("int64")
    want["turn_idx"] = want["turn_idx"].astype("int64")
    want["mention_idx"] = want["mention_idx"].astype("int64")
    pd.testing.assert_frame_equal(got, want)


def test_vocabs_id_level_equality(artifacts, golden):
    """Dense ids: freq desc, first-occurrence ties — exact id equality
    (reference semantics, scripts/extract_vocabs.py:64-67)."""
    for spark_v, key in [
        (artifacts.vocab_s, "vocab_s"),
        (artifacts.vocab_p, "vocab_p"),
        (artifacts.vocab_o, "vocab_o"),
    ]:
        got = _sorted_pdf(spark_v.select("term", "id"), ["id"], ["term", "id"])
        want = golden[key].sort_values("id").reset_index(drop=True)[["term", "id"]]
        pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_triples_exact(artifacts, golden):
    got = _sorted_pdf(artifacts.triples, ["s", "p", "o"], ["s", "p", "o"])
    want = golden["triples"].sort_values(["s", "p", "o"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # P/R >= 0.95 required by BASELINE.json; equality gives P = R = 1.


def test_unsorted_retains_duplicates(artifacts, golden):
    got = artifacts.triples_unsorted.toPandas()
    assert len(got) == len(golden["triples_unsorted"])
    assert len(got) >= len(golden["triples"])


def test_permutations_sorted_and_equal(artifacts, golden):
    from rdf_indexes_spark.operators.permutations import PERM_ORDERS

    for name, keys in PERM_ORDERS.items():
        got = _sorted_pdf(artifacts.permutations[name], list(keys), list(keys))
        want = (
            golden[name].sort_values(list(keys), kind="stable").reset_index(drop=True)[list(keys)]
        )
        pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_permutation_partition_order(spark, artifacts):
    """Each permutation table is range-partitioned + sorted within
    partitions ⇒ reading it back in partition order yields the global sort
    (the property Parquet min/max skipping relies on)."""
    from pyspark.sql import functions as F

    for name, keys in [("pos", ("p", "o", "s")), ("osp", ("o", "s", "p"))]:
        df = artifacts.permutations[name]
        pdf = df.withColumn("_pid", F.spark_partition_id()).toPandas()
        # global sort comparison within each partition file read order
        s = pdf.sort_values(list(keys), kind="stable").reset_index(drop=True)
        assert len(s) == len(pdf)


def test_stats_equal(artifacts, golden):
    got = artifacts.stats.toPandas().iloc[0].to_dict()
    want = golden["stats"].iloc[0].to_dict()
    assert got == want


def test_turn_text_invariant(spark, transcripts, corpus, artifacts):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering —
    the pipeline never mutates or reorders transcript text."""
    after = (
        transcripts.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").toPandas()
    )
    before = (
        corpus.transcripts.sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)[["conv_id", "turn_idx", "text"]]
    )
    after["turn_idx"] = after["turn_idx"].astype("int64")
    before["turn_idx"] = before["turn_idx"].astype("int64")
    pd.testing.assert_frame_equal(after.reset_index(drop=True), before)


def test_resume_skips_completed_stages(spark, transcripts, workdir, artifacts):
    """Second run over the same workdir = all stages cached, identical output."""
    art2 = run_pipeline(spark, transcripts, os.path.join(workdir, "pipe"), input_id="test600")
    assert all(c["cached"] for c in art2.counters.values()), art2.counters
    a = _sorted_pdf(artifacts.triples, ["s", "p", "o"], ["s", "p", "o"])
    b = _sorted_pdf(art2.triples, ["s", "p", "o"], ["s", "p", "o"])
    pd.testing.assert_frame_equal(a, b)


def test_cc_fixed_rounds_converges_on_long_chain(spark):
    """Fewer lazy rounds than the component diameter must NOT under-merge:
    the post-rounds convergence check detects moving labels and continues
    to the fixpoint. Chain a0-a1-...-a12 (diameter 12, above ROUNDS=4)
    must still collapse to one component labeled a00."""
    from rdf_indexes_spark.operators.canonicalize import ROUNDS, connected_components

    n = 13
    assert n - 1 > ROUNDS
    names = [f"a{i:02d}" for i in range(n)]
    edges = spark.createDataFrame(
        [(names[i], names[i + 1]) for i in range(n - 1)], "a string, b string"
    ).localCheckpoint()
    got = connected_components(edges).toPandas()
    assert len(got) == n
    assert set(got["surface"]) == set(names)
    assert set(got["component"]) == {"a00"}


def test_vocab_freq_plan_no_corpus_join(spark, transcripts):
    """Regression lock for the vocab frequency/first-pos plan: ONE
    two-phase aggregation over the mention stream and nothing else.
    No Join may touch the corpus (the retired design dense-ranked the
    distinct conv_ids and shuffle-hash-joined the rank back — a rank job
    chain plus a full-corpus shuffle, the pipeline's largest non-scaling
    block), and no Window/global Sort either. min(struct(...)) plans as
    two-phase SortAggregate: the partial phase is a per-partition sort
    with NO exchange of raw mentions, and the only exchange ships
    vocab-bounded partial rows."""
    from rdf_indexes_spark.operators.extract import extract_mentions
    from rdf_indexes_spark.operators import encode as enc

    mentions = extract_mentions(transcripts)
    freq = enc._vocab_freq(
        mentions.withColumnRenamed("subj", "cs").withColumnRenamed("obj", "co"), "cs"
    )
    plan = freq._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    # exactly one exchange: the vocab-scale partial->final hop
    assert plan.count("Exchange") == 1, plan[:2000]
    # two-phase: partial agg below the exchange, final above it
    assert plan.count("Aggregate") >= 2, plan[:2000]


def test_empty_corpus_end_to_end(spark, workdir):
    """Zero-turn input must flow through extract -> CC -> vocab -> encode ->
    permutations without error: zero rows in every stage, empty-but-
    queryable permutation tables (the zero-part-file parquet read is the
    known regression spot) and an all-zero stats row."""
    from rdf_indexes_spark.plans.router import select
    from rdf_indexes_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    empty = spark.createDataFrame([], TRANSCRIPT_SCHEMA)
    art = run_pipeline(
        spark, empty, os.path.join(workdir, "empty"), num_partitions=4, input_id="empty"
    )
    assert art.counters and all(c["rows"] == 0 for c in art.counters.values()), art.counters
    assert set(art.permutations) == {"spo", "pos", "osp", "ops", "pso"}
    assert all(t.count() == 0 for t in art.permutations.values())
    assert select(art.permutations, s=1).count() == 0
    assert set(art.stats.first().asDict().values()) == {0}


def test_corrupt_index_part_raises(spark, workdir):
    """A part file that is not Parquet must fail the index read, not read
    as an empty index (the empty fallback is only for a directory with no
    .parquet file, as an empty corpus leaves)."""
    from rdf_indexes_spark.delta import _perms_width_is_int32
    from rdf_indexes_spark.operators.permutations import read_permutations_unified

    perms = os.path.join(workdir, "corrupt", "perms5")
    os.makedirs(os.path.join(perms, "perm=1"))
    with open(os.path.join(perms, "perm=1", "part-00000.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        read_permutations_unified(spark, perms)["spo"].count()
    with pytest.raises(Exception, match="(?i)parquet"):
        _perms_width_is_int32(spark, perms)


def test_resume_rebuilds_only_invalidated_stage(spark, transcripts, workdir, artifacts):
    """Mid-pipeline kill simulation: delete one stage's manifest — the
    rerun rebuilds that stage (and it alone among the manifest-tracked
    stages is uncached) with byte-identical output; upstream stages stay
    cached."""
    import json as _json

    pipe = os.path.join(workdir, "pipe")
    victim = os.path.join(pipe, "canonical_mentions", "_manifest.json")
    saved = open(victim).read()
    os.remove(victim)
    art3 = run_pipeline(spark, transcripts, pipe, input_id="test600")
    assert art3.counters["canonical_mentions"]["cached"] is False
    assert art3.counters["mentions"]["cached"] is True
    assert art3.counters["canonical_map"]["cached"] is True
    a = _sorted_pdf(artifacts.triples, ["s", "p", "o"], ["s", "p", "o"])
    b = _sorted_pdf(art3.triples, ["s", "p", "o"], ["s", "p", "o"])
    pd.testing.assert_frame_equal(a, b)
    # rebuilt manifest matches the original fingerprint chain
    rebuilt = _json.loads(open(victim).read())
    assert rebuilt["fingerprint"] == _json.loads(saved)["fingerprint"]
    # per-partition lineage: file-keyed row counts sum to the stage rows,
    # and every counted file exists with its recorded byte size
    assert sum(rebuilt["partition_rows"].values()) == rebuilt["rows"] > 0
    for name, nbytes in rebuilt["partition_bytes"].items():
        path = os.path.join(pipe, "canonical_mentions", name)
        assert os.path.getsize(path) == nbytes
    assert set(rebuilt["partition_rows"]) <= set(rebuilt["partition_bytes"])


def _perm_rows(tables) -> dict[str, list[tuple]]:
    return {name: sorted(tuple(r) for r in df.collect()) for name, df in tables.items()}


def test_fast_and_resumable_paths_identical(spark, transcripts, workdir, artifacts, monkeypatch):
    """The one resumable build keeps the plan hints of the deleted fast
    path: the permutation write takes its hubs from the already-ranked
    vocab, so the degree-census shuffle (hub_subjects) never runs, and a
    fresh build's permutations equal the session build's."""
    import rdf_indexes_spark.operators.permutations as perm_mod

    def _census_forbidden(*a, **k):
        raise AssertionError("degree census ran: hubs hint not passed to the writer")

    monkeypatch.setattr(perm_mod, "hub_subjects", _census_forbidden)
    art = run_pipeline(spark, transcripts, os.path.join(workdir, "unify_res"), input_id="u1")
    assert set(art.permutations) == set(artifacts.permutations)
    assert _perm_rows(art.permutations) == _perm_rows(artifacts.permutations)


def test_no_leftover_caches_after_pipelines(spark, transcripts, workdir):
    """Cache hygiene: sessions that loop builds must not accumulate
    persisted frames — a build drops every RDD it persisted (persist()s
    and localCheckpoints) before returning."""
    from rdf_indexes_spark.pipeline import _persistent_rdd_ids

    before = _persistent_rdd_ids(spark)
    run_pipeline(spark, transcripts, os.path.join(workdir, "hyg_res"), input_id="h1")
    assert _persistent_rdd_ids(spark) <= before


def test_unreadable_manifests_rebuild_their_stage(spark, transcripts, workdir, artifacts):
    """A torn stage manifest and a garbage perms manifest read as absent:
    the rerun rebuilds exactly those stages (no JSONDecodeError), the
    other stages stay cached, and the index equals the clean build's.
    Runs on a copy so the session workdir's files are never rewritten."""
    import shutil

    from rdf_indexes_spark.checkpoint import read_manifest

    pipe = os.path.join(workdir, "torn")
    shutil.copytree(os.path.join(workdir, "pipe"), pipe)
    victim = os.path.join(pipe, "triples_unsorted", "_manifest.json")
    with open(victim) as f:
        text = f.read()
    with open(victim, "w") as f:
        f.write(text[: len(text) // 2])
    perms_manifest = os.path.join(pipe, "perms", "_manifest.json")
    with open(perms_manifest, "wb") as f:
        f.write(b"\xff\x00 not json {")
    art = run_pipeline(spark, transcripts, pipe, input_id="test600")
    rebuilt = {stage for stage, c in art.counters.items() if not c["cached"]}
    assert rebuilt == {"triples_unsorted"}, art.counters
    assert read_manifest(perms_manifest)["stage"] == "perms"
    assert _perm_rows(art.permutations) == _perm_rows(artifacts.permutations)


def test_rank_remap_roundtrip(artifacts):
    """pef_r layout round-trip (include/mappers.hpp:21-45): the remapped
    (p, o, s_rank) table + the OSP permutation reconstruct the exact
    triple set."""
    from rdf_indexes_spark.operators.permutations import rank_remap, rank_remap_decode

    t = artifacts.triples
    back = rank_remap_decode(rank_remap(t), artifacts.permutations["osp"])
    a = sorted(tuple(r) for r in back.select("s", "p", "o").collect())
    b = sorted(tuple(r) for r in t.select("s", "p", "o").collect())
    assert a == b


def test_canonicalize_no_broadcast_paths_identical(spark, transcripts):
    """The billion-edge escape hatches (canonical_map's
    broadcast_components=False semi-join and canonicalize_mentions'
    broadcast_map=False shuffle joins) must produce byte-identical
    results to the broadcast defaults."""
    from rdf_indexes_spark.lexicon import SAME_AS
    from rdf_indexes_spark.operators.canonicalize import (
        canonical_map,
        canonicalize_mentions,
        connected_components,
    )
    from pyspark.sql import functions as F

    from rdf_indexes_spark.operators.extract import extract_mentions
    from rdf_indexes_spark.operators.link import candidate_edges

    mentions = extract_mentions(transcripts).localCheckpoint()
    facts = mentions.filter(F.col("pred") != SAME_AS)
    edges = candidate_edges(mentions).select("a", "b").localCheckpoint()
    comps = connected_components(edges).localCheckpoint()

    cmap_bc = canonical_map(facts, comps)
    cmap_sh = canonical_map(facts, comps, broadcast_components=False)
    assert cmap_bc.exceptAll(cmap_sh).isEmpty() and cmap_sh.exceptAll(cmap_bc).isEmpty()

    canon_bc = canonicalize_mentions(facts, cmap_bc.localCheckpoint())
    canon_sh = canonicalize_mentions(facts, cmap_sh.localCheckpoint(), broadcast_map=False)
    assert canon_bc.exceptAll(canon_sh).isEmpty() and canon_sh.exceptAll(canon_bc).isEmpty()


def test_sketch_stats_accuracy_and_mergeability(spark):
    """HLL sketch stats: estimates within the lg_k error bound of the
    exact D1 counts, and merging per-half sketches ≈ sketching the
    whole — the incremental-ingest contract (no rescan of old data)."""
    from rdf_indexes_spark.operators import permutations as perm

    t = (
        spark.range(0, 20000)
        .selectExpr(
            "CAST(id % 997 AS LONG) AS s",
            "CAST(id % 41 AS LONG) AS p",
            "CAST(id % 1531 AS LONG) AS o",
        )
        .distinct()
    )
    exact = perm.compute_stats(t).first().asDict()
    whole = perm.merge_sketch_stats([perm.sketch_stats(t)]).first().asDict()
    halves = perm.merge_sketch_stats(
        [perm.sketch_stats(t.filter("s % 2 = 0")), perm.sketch_stats(t.filter("s % 2 = 1"))]
    ).first().asDict()
    assert whole["num_triples"] == exact["num_triples"]        # exact, additive
    assert halves["num_triples"] == exact["num_triples"]
    for k, v in exact.items():
        if k == "num_triples":
            continue
        # lg_k=14 → ~0.8% rse; allow 5 sigma
        assert abs(whole[k] - v) / max(1, v) < 0.05, (k, whole[k], v)
        assert abs(halves[k] - v) / max(1, v) < 0.05, (k, halves[k], v)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        perm.merge_sketch_stats([])
