"""Incremental ingest: merge delta transcript batches into an existing
index without rebuilding it (LSM-style sorted-run maintenance).

The reference has no incremental mode — adding triples means rerunning
process.sh + build from scratch (/root/reference/scripts/process.sh:7-10).
At the 10^12-turn target a daily batch cannot pay a full rebuild, so this
module adds the standard log-structured design on top of the existing
checkpointed pipeline:

 - the base index (a ``run_pipeline`` workdir) is IMMUTABLE; each merge
   lands an immutable delta level under ``workdir/deltas/<k>/`` holding
   that batch's new vocab rows and new triples (plus a manifest with
   lineage + counters, same resumability contract as StageStore);
 - dictionary ids are STABLE: existing terms keep their ids forever; new
   terms get dense ids appended after the current id space per role
   (freq-desc, first-occurrence tie-break WITHIN the batch — the same
   rank rule the base build uses, applied to the delta);
 - new triples are encoded against the frozen+extended dictionaries,
   deduped, anti-joined against all prior levels, and APPENDED to the
   unified permutation layout as another generation of sorted parquet
   files (same ``perm=`` partitioning). Every router query still
   partition-prunes and pushes filters into every generation's scan;
   only file-level range disjointness degrades until ``compact()``
   rewrites the levels into one sorted run — exactly an LSM compaction;
 - the 7-count stats are recomputed over the merged triple set (one
   aggregation job; at extreme scale the three distinct-term counts are
   already exact from the vocab sizes, and the pair counts are the only
   full recount — maintainable with sketches if ever needed).

Scope note (documented, not hidden): canonicalization is BATCH-LOCAL.
Link edges never cross batches, so a coreference chain split across two
batches keeps two canonical forms until a full rebuild — the same
trade-off every incremental entity-resolution system makes. Per-batch
quarantine (``extend_vocab=False``) reproduces the reference's
drop-and-log delta semantics (scripts/map_dataset.py:61-83).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import MANIFEST, write_manifest
from .functions.ranking import _literal_df
from .lexicon import SAME_AS
from .operators import encode as enc
from .operators import permutations as perm
from .operators.canonicalize import canonicalize_mentions
from .operators.extract import extract_mentions
from .pipeline import _persistent_rdd_ids, _unpersist_created_since, build_canonical_map


def _deltas_dir(workdir: str) -> str:
    return os.path.join(workdir, "deltas")


def _levels(workdir: str) -> list[str]:
    d = _deltas_dir(workdir)
    if not os.path.isdir(d):
        return []
    return sorted(
        (os.path.join(d, e) for e in os.listdir(d) if e.isdigit()),
        key=lambda p: int(os.path.basename(p)),
    )


def read_vocab_ranked(spark: SparkSession, workdir: str) -> DataFrame:
    """The merged (role, term, cnt, id) dictionary: base + all levels."""
    out = spark.read.parquet(os.path.join(workdir, "vocabs_ranked")).select(
        "role", "term", "cnt", "id"
    )
    for lvl in _levels(workdir):
        out = out.unionByName(
            spark.read.parquet(os.path.join(lvl, "vocab_new")).select(
                "role", "term", "cnt", "id"
            )
        )
    return out


def read_triples(spark: SparkSession, workdir: str) -> DataFrame:
    """The merged distinct triple set: base + all levels."""
    out = spark.read.parquet(os.path.join(workdir, "triples")).select("s", "p", "o")
    for lvl in _levels(workdir):
        out = out.unionByName(
            spark.read.parquet(os.path.join(lvl, "triples_new")).select("s", "p", "o")
        )
    return out


def read_index(spark: SparkSession, workdir: str):
    """(vocab_ranked, triples, permutation tables) for base + levels.
    The permutation read already unions all appended generations (they
    share the partitioned parquet dir)."""
    tables = perm.read_permutations_unified(
        spark, os.path.join(workdir, "perms", "perms5")
    )
    return read_vocab_ranked(spark, workdir), read_triples(spark, workdir), tables


def _delta_canonical_mentions(transcripts: DataFrame) -> tuple[DataFrame, int]:
    """The extract→link→CC→canonicalize chain, batch-local: run_pipeline's
    operators with in-memory cuts in place of its Parquet stages."""
    mentions = extract_mentions(transcripts).persist()
    n_mentions = mentions.count()
    facts = mentions.filter(F.col("pred") != SAME_AS)
    cmap = build_canonical_map(mentions).localCheckpoint()
    canon = canonicalize_mentions(facts, cmap).persist()
    return canon, n_mentions


def _perms_width_is_int32(spark: SparkSession, perms_dir: str) -> bool | None:
    """Component width of the existing layout (None: no files yet; an
    unreadable file raises)."""
    if not perm.has_parquet(perms_dir):
        return None
    dt = {f.name: f.dataType.simpleString() for f in spark.read.parquet(perms_dir).schema}
    return dt.get("c1") == "int"


def _base_sketch_path(workdir: str) -> str:
    return os.path.join(workdir, "perms", "stats_sketch_base")


def _level_sketch(spark: SparkSession, level_dir: str) -> DataFrame:
    """The level's stats sketch row — read if the level wrote one,
    else derived from its (delta-scale) triples_new parquet (levels
    created before sketch mode existed)."""
    p = os.path.join(level_dir, "stats_sketch")
    if os.path.isdir(p):
        return spark.read.parquet(p)
    return perm.sketch_stats(spark.read.parquet(os.path.join(level_dir, "triples_new")))


def approx_stats(spark: SparkSession, workdir: str) -> DataFrame:
    """Whole-index 7-count stats from the persisted generation sketches
    — O(#generations) rows touched, NO triple rescan. num_triples is
    exact (additive); distinct counts are HLL-union estimates. Requires
    the base sketch (written by the first sketch-mode ``merge_delta``,
    or lay it down directly with ``sketch_stats``)."""
    base = spark.read.parquet(_base_sketch_path(workdir))
    levels = [_level_sketch(spark, lv) for lv in _levels(workdir)]
    return perm.merge_sketch_stats([base, *levels])


def merge_delta(
    spark: SparkSession,
    workdir: str,
    delta_transcripts: DataFrame,
    num_partitions: int | None = None,
    extend_vocab: bool = True,
    delta_id: str = "",
    stats_mode: str = "exact",
) -> dict:
    """Merge one transcript batch into the index at ``workdir``.

    Returns counters: mentions, new_terms, new_triples, total_triples,
    quarantined. Id stability contract: every pre-existing (role, term)
    keeps its id; new terms extend each role's dense id space.

    ``stats_mode``: 'exact' (default) recomputes the 7-count stats row
    over base+delta — a FULL RESCAN per merge, exact, fine while the
    index is small. 'sketch' refreshes stats from mergeable HLL
    sketches instead: the delta is sketched once (delta-scale), the
    base is sketched once EVER (first sketch-mode merge), and every
    later refresh merges 16 KiB sketch rows — the O(delta) maintenance
    path continuous ingest needs at 10^12 triples. num_triples stays
    exact either way; distinct counts in sketch mode carry ~0.8% HLL
    error (consumers size structures, they don't need the last bit)."""
    if stats_mode not in ("exact", "sketch"):
        raise ValueError(f"stats_mode must be exact|sketch, got {stats_mode!r}")
    n = num_partitions or spark.sparkContext.defaultParallelism
    _snap = _persistent_rdd_ids(spark)
    t0 = time.monotonic()

    base_ranked = read_vocab_ranked(spark, workdir)
    base_triples = read_triples(spark, workdir)
    canon, n_mentions = _delta_canonical_mentions(delta_transcripts)

    # --- extend the dictionaries (delta-scale work only) -----------------
    freq = enc.role_freq(canon)
    # sizes per role = next free id (ids are dense 0..n-1 per role across
    # base + prior levels); ONE tiny agg over the dictionary
    sizes = {
        r["role"]: int(r["n"])
        for r in base_ranked.groupBy("role").agg(F.count("*").alias("n")).collect()
    }
    for role, _ in enc.ROLES:
        sizes.setdefault(role, 0)
    if extend_vocab:
        new_freq = freq.join(
            base_ranked.select("role", "term"), ["role", "term"], "left_anti"
        )
        new_ranked = enc.rank_roles(new_freq)
        off = _literal_df(
            spark,
            [(role, sizes[role]) for role, _ in enc.ROLES],
            [("role", "string"), ("_base", "long")],
        )
        vocab_new = (
            new_ranked.join(F.broadcast(off), "role")
            .select(
                "role", "term", "cnt",
                (F.col("id") + F.col("_base")).cast("long").alias("id"),
            )
            .localCheckpoint()  # consumed by count, union, and the write
        )
    else:
        vocab_new = spark.range(0).select(
            F.lit("").alias("role"), F.lit("").alias("term"),
            F.lit(0).cast("long").alias("cnt"), F.lit(0).cast("long").alias("id"),
        )
    merged_ranked = base_ranked.unionByName(vocab_new)
    new_terms = {
        r["role"]: int(r["n"])
        for r in vocab_new.groupBy("role").agg(F.count("*").alias("n")).collect()
    }
    merged_sizes = {role: sizes[role] + new_terms.get(role, 0) for role, _ in enc.ROLES}

    # --- encode against the frozen+extended dictionaries -----------------
    encoded, quarantine = enc.encode_mentions(
        canon, enc.role_vocabs(merged_ranked), sizes=merged_sizes
    )
    n_quarantined = quarantine.count() if not extend_vocab else 0
    delta_triples = (
        perm.dedup_triples(encoded)
        .join(base_triples, ["s", "p", "o"], "left_anti")
        .localCheckpoint()  # feeds the append write, stats union, counters
    )
    n_new = delta_triples.count()

    # --- append a sorted generation to the permutation layout ------------
    perms_dir = os.path.join(workdir, "perms", "perms5")
    width_int32 = _perms_width_is_int32(spark, perms_dir)
    max_id = max(merged_sizes.values())
    if width_int32 is None:
        downcast = max_id < 2**31
    elif width_int32 and max_id >= 2**31:
        raise NotImplementedError(
            "id space crossed 2^31: the index's int32 layout cannot hold the "
            "new ids and needs a full rebuild (run_pipeline over the whole "
            "corpus); compact() rewrites only the landed triples, whose ids "
            "still fit int32, so it keeps the int32 layout"
        )
    else:
        downcast = width_int32
    if n_new:
        # partitions follow the DELTA's size, not the cluster
        d_parts = max(1, min(n, n_new // 250_000 + 1))
        perm.write_permutations_unified(
            delta_triples, perms_dir, num_partitions=d_parts,
            downcast=downcast, mode="append",
        )

    # --- land the immutable level + refreshed stats -----------------------
    level = os.path.join(_deltas_dir(workdir), str(len(_levels(workdir))))
    vocab_new.write.mode("overwrite").parquet(os.path.join(level, "vocab_new"))
    delta_triples.write.mode("overwrite").parquet(os.path.join(level, "triples_new"))
    if stats_mode == "sketch":
        # one-time base sketch over the BASE build only (workdir/triples —
        # levels each carry their own sketch, so base+levels partition the
        # triple set exactly and num_triples stays additive-exact); this is
        # the only base scan sketch mode ever does
        if not os.path.isdir(_base_sketch_path(workdir)):
            base_only = spark.read.parquet(os.path.join(workdir, "triples")).select("s", "p", "o")
            perm.sketch_stats(base_only).write.parquet(_base_sketch_path(workdir))
        perm.sketch_stats(delta_triples).write.mode("overwrite").parquet(
            os.path.join(level, "stats_sketch")
        )
        stats = approx_stats(spark, workdir)
    else:
        all_triples = base_triples.unionByName(delta_triples)
        stats = perm.compute_stats(all_triples)
    stats.write.mode("overwrite").parquet(os.path.join(workdir, "perms", "stats"))
    total = int(stats.first()["num_triples"])
    counters = {
        "mentions": n_mentions,
        "new_terms": new_terms,
        "new_triples": n_new,
        "total_triples": total,
        "quarantined": n_quarantined,
        "elapsed_sec": round(time.monotonic() - t0, 3),
    }
    write_manifest(
        os.path.join(level, MANIFEST),
        {
            "delta_id": delta_id,
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            **counters,
        },
    )
    _unpersist_created_since(spark, _snap)
    return counters


def compact(
    spark: SparkSession, workdir: str, num_partitions: int | None = None
) -> dict:
    """Collapse all appended generations into one sorted run (LSM
    compaction): rewrite the unified layout from the merged triple set.
    Levels stay on disk as the vocab/triple source of truth; only the
    physical permutation files are rewritten."""
    n = num_partitions or spark.sparkContext.defaultParallelism
    triples = read_triples(spark, workdir)
    perms_dir = os.path.join(workdir, "perms", "perms5")
    tmp = perms_dir + ".compact"
    perm.write_permutations_unified(triples, tmp, num_partitions=n)
    old = perms_dir + ".old"
    os.rename(perms_dir, old)
    os.rename(tmp, perms_dir)
    import shutil

    shutil.rmtree(old, ignore_errors=True)
    return {"compacted_triples": triples.count(), "generations": 1}
