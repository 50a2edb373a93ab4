"""End-to-end KG construction pipeline (the reference's process.sh + build,
/root/reference/scripts/process.sh:7-10, re-expressed as one Spark lineage
with explicit stage checkpoints).

  transcripts ──extract──▶ mentions
      mentions ──link──▶ edges ──CC──▶ components ──▶ canonical map
      mentions ⋈ map ──▶ canonical_mentions
      canonical_mentions ──vocab×3──▶ (term,id) dicts
      canonical_mentions ⋈ dicts ──▶ encoded_unsorted (dups kept)
      encoded_unsorted ──distinct──▶ triples ──▶ 5 sorted permutations + stats

Every stage lands in the StageStore (Parquet + manifest) for resumability;
the whole run returns an Artifacts handle with lazily-readable tables.
The mentions → canonical map prefix is ``build_canonical_map``, which delta
ingest and ``__spark_entry__._q_kg_triples_oracle`` call too.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .checkpoint import MANIFEST, StageStore, _fingerprint, read_manifest, write_manifest
from .lexicon import SAME_AS
from .operators import encode as enc
from .operators import permutations as perm
from .operators.canonicalize import canonical_map, canonicalize_mentions, connected_components
from .operators.extract import extract_mentions
from .operators.link import candidate_edges
from pyspark.sql import functions as F


def _persistent_rdd_ids(spark: SparkSession) -> set[int]:
    return set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())


def _unpersist_created_since(spark: SparkSession, before: set[int]) -> None:
    """Drop every RDD persisted after the ``before`` snapshot (persist()s,
    eager and lazy localCheckpoints alike). run_pipeline and merge_delta
    call this on exit: nothing lazy escapes them (Artifacts frames are
    parquet-backed reads; merge_delta returns plain counters), so
    long-running sessions that loop builds hold zero leftover cache."""
    for rid, jrdd in dict(spark.sparkContext._jsc.getPersistentRDDs()).items():
        if rid not in before:
            jrdd.unpersist(False)


def _vocab_hints(ranked: DataFrame, vocab_s: DataFrame):
    """ONE tiny job over the materialized fused-vocab frame answers three
    questions at once:
     - vocab sizes: ids are dense 0..|vocab|-1, so ALL components fit
       int32 iff every vocab is < 2^31 terms → write-side downcast decided
       with no extra scan of the triples;
     - distinct s/p/o of the deduped triples == the vocab sizes (dedup
       drops duplicate rows, never a term's last row) — no countDistinct
       expand needed;
     - hub subjects from the s-vocab's frequency column (mention count >=
       triple degree, so every true triple hub is caught), saving the
       degree-census groupBy inside the permutation write — selection via
       the SHARED policy helpers (permutations.hub_threshold / top_hubs),
       so this census-free path can never diverge from hub_subjects.

    Returns (sizes = {role: n}, hubs DataFrame[s], downcast bool)."""
    vinfo = {
        r["role"]: r
        for r in ranked.groupBy("role")
        .agg(
            F.count("*").alias("n"),
            F.mean("cnt").alias("m"),
            F.stddev_pop("cnt").alias("sd"),
        )
        .collect()
    }
    sizes = {r: (int(vinfo[r]["n"]) if r in vinfo else 0) for r in ("s", "p", "o")}
    srow = vinfo.get("s")
    thr = perm.hub_threshold(srow["m"], srow["sd"]) if srow else 1
    hubs = perm.top_hubs(vocab_s, "cnt", thr).select(F.col("id").alias("s"))
    downcast = max(sizes.values()) < 2**31
    return sizes, hubs, downcast


def build_canonical_map(mentions: DataFrame) -> DataFrame:
    """mentions → (surface, canonical): link edges, connected components
    over the link graph, one representative per component."""
    facts = mentions.filter(F.col("pred") != SAME_AS)
    # eager cut: CC reads the edges three times, and the cut keeps the
    # link scoring in its own job
    edges = candidate_edges(mentions).select("a", "b").localCheckpoint()
    # CC over edge ENDPOINTS only: every other surface maps to itself via
    # canonicalize_mentions' left join + coalesce
    return canonical_map(facts, connected_components(edges))


@dataclass
class Artifacts:
    workdir: str
    mentions: DataFrame
    canonical_mentions: DataFrame
    vocab_s: DataFrame
    vocab_p: DataFrame
    vocab_o: DataFrame
    triples_unsorted: DataFrame
    triples: DataFrame
    permutations: dict[str, DataFrame]
    stats: DataFrame
    counters: dict[str, dict]


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    workdir: str,
    num_partitions: int | None = None,
    input_id: str = "",
) -> Artifacts:
    n = num_partitions or spark.sparkContext.defaultParallelism
    _cache_snapshot = _persistent_rdd_ids(spark)
    store = StageStore(spark, workdir, config_fingerprint=_fingerprint("v1", str(n)))
    in_fp = _fingerprint("input", input_id)

    mentions, fp_m = store.run("mentions", [in_fp], lambda: extract_mentions(transcripts))

    facts = mentions.filter(F.col("pred") != SAME_AS)

    cmap, fp_c = store.run("canonical_map", [fp_m], lambda: build_canonical_map(mentions))

    canon, fp_cm = store.run(
        "canonical_mentions", [fp_c], lambda: canonicalize_mentions(facts, cmap)
    )

    # ONE fused stage ranks all three role vocabularies (ids identical to
    # per-role builds; ranks are computed per role) — one melt+agg pass
    # over the mention stream instead of three.
    ranked, fp_v = store.run("vocabs_ranked", [fp_cm], lambda: enc.build_vocabs_fused(canon))
    vocabs = enc.role_vocabs(ranked)
    vs, vp, vo = vocabs["s"], vocabs["p"], vocabs["o"]

    # vocab hints memoized lazily: the agg job runs only if a stage below
    # actually needs it (encode join strategy / write hubs+downcast) —
    # a fully-cached resume never pays it.
    _hints_memo: dict[str, tuple] = {}

    def _hints() -> tuple:
        if "v" not in _hints_memo:
            _hints_memo["v"] = _vocab_hints(ranked, vs)
        return _hints_memo["v"]

    unsorted, fp_u = store.run(
        "triples_unsorted",
        [fp_cm, fp_v],
        lambda: enc.encode_mentions(canon, vocabs, sizes=_hints()[0])[0],
    )

    triples, fp_t = store.run("triples", [fp_u], lambda: perm.dedup_triples(unsorted))

    # permutations + stats keyed off the triples fingerprint; a missing or
    # unreadable manifest rebuilds them. Vocab-derived hubs + downcast
    # hints (one tiny agg over the parquet-backed ranked stage) spare the
    # write its degree-census shuffle and min/max probe.
    perm_dir = os.path.join(workdir, "perms")
    perm_manifest = os.path.join(perm_dir, MANIFEST)
    fp_p = _fingerprint("perms", fp_t)
    if (read_manifest(perm_manifest) or {}).get("fingerprint") != fp_p:
        _, hubs, downcast = _hints()
        perm.write_permutations_unified(
            triples,
            os.path.join(perm_dir, "perms5"),
            num_partitions=n,
            hubs=hubs,
            downcast=downcast,
        )
        stats_df = perm.compute_stats(triples)
        stats_df.write.mode("overwrite").parquet(os.path.join(perm_dir, "stats"))
        write_manifest(perm_manifest, {"fingerprint": fp_p, "stage": "perms"})
    tables = perm.read_permutations_unified(spark, os.path.join(perm_dir, "perms5"))
    stats = spark.read.parquet(os.path.join(perm_dir, "stats"))
    _unpersist_created_since(spark, _cache_snapshot)  # Artifacts are parquet-backed

    return Artifacts(
        workdir=workdir,
        mentions=mentions,
        canonical_mentions=canon,
        vocab_s=vs,
        vocab_p=vp,
        vocab_o=vo,
        triples_unsorted=unsorted,
        triples=triples,
        permutations=tables,
        stats=stats,
        counters=store.counters,
    )
