"""Permutation materialization + stats (SURVEY.md C1-C3, D1-D3, A3/A6).

The reference materializes five sorted text files via ``sort -n -u``
(/root/reference/scripts/sort.py:6-10, dedup at sort time) and a 7-count
stats file (the reference's scripts/build_stats.py:9-16). Here all five
permutations land in ONE Parquet table partitioned by a ``perm`` tag:
rows are hash-partitioned on (perm, c1, c2) plus a salt for hub subjects
(learned from the same range-length census the reference ships in
include/stats.hpp:63-114, so one hub cannot serialize a writer) and
sorted within partitions. Parquet min/max page stats then
play the role of the reference's trie pointer arrays / Elias-Fano zone
maps for pattern-query skipping.

Dedup happens ONCE before the sorts (one shuffle, reused), exactly the
`sort -u` placement.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PERM_ORDERS: dict[str, tuple[str, str, str]] = {
    "spo": ("s", "p", "o"),
    "pos": ("p", "o", "s"),
    "osp": ("o", "s", "p"),
    "ops": ("o", "p", "s"),
    "pso": ("p", "s", "o"),
}

# the reference's permutation_type enum values (util_types.hpp:42-49) —
# stored as a tinyint partition value instead of a string: the perm tag
# rides every exploded shuffle row, so its width is paid 5x per triple.
PERM_IDS: dict[str, int] = {"spo": 1, "pos": 2, "osp": 3, "ops": 4, "pso": 5}

# the reference's index variants: which permutations each materializes
# (include/types.hpp:19-84; index_2to = SPO+OPS + the p_index,
# index_2tp = SPO+POS, the 3t family = SPO+POS+OSP). "5p" keeps every
# sorted order the prep scripts produce (scripts/sort.py).
VARIANT_PERMS: dict[str, tuple[str, ...]] = {
    "5p": ("spo", "pos", "osp", "ops", "pso"),
    "3t": ("spo", "pos", "osp"),
    "2tp": ("spo", "pos"),
    "2to": ("spo", "ops"),
    # pef_r_3t (include/types.hpp:70-77): the 3t trio, PLUS a rank-remapped
    # POS table (pos_r, written by the CLI next to perms5) whose subjects
    # are OSP-relative ranks — decoded back via rank_remap_decode.
    "pef_r": ("spo", "pos", "osp"),
}

STATS_COLS = [
    "num_triples",
    "distinct_subjects",
    "distinct_predicates",
    "distinct_objects",
    "distinct_sp_pairs",
    "distinct_po_pairs",
    "distinct_os_pairs",
]


def dedup_triples(encoded: DataFrame) -> DataFrame:
    """`sort -u` semantics: distinct (s,p,o); one shuffle shared by all perms."""
    return encoded.select("s", "p", "o").dropDuplicates(["s", "p", "o"])


def skew_census(triples: DataFrame, key: str = "s") -> DataFrame:
    """(group_size, frequency) distribution — the reference's
    collect_ranges_distribution (/root/reference/include/stats.hpp:63-114).
    Drives the hub threshold for salting."""
    return (
        triples.groupBy(key)
        .agg(F.count("*").alias("group_size"))
        .groupBy("group_size")
        .agg(F.count("*").alias("frequency"))
        .orderBy("group_size")
    )


# The hub-selection POLICY, shared by every producer of a hub set (the
# degree census here and pipeline._vocab_hints' census-free vocab path):
# strict threshold int(mean + 3*stddev) + 1 — a near-uniform count
# distribution (stddev≈0) must never hub the whole key set — and an
# unconditional top-HUB_CAP cut (TakeOrderedAndProject: per-partition
# top-k + tiny merge, never a global sort) bounding the broadcast the
# permutation writers do with the result.
HUB_CAP = 65536


def hub_threshold(mean: float | None, stddev: float | None) -> int:
    return int((mean or 0) + 3 * (stddev or 0)) + 1


def top_hubs(df: DataFrame, cnt_col: str, threshold: int, max_hubs: int = HUB_CAP) -> DataFrame:
    return df.filter(F.col(cnt_col) >= threshold).orderBy(F.desc(cnt_col)).limit(max_hubs)


def hub_subjects(
    triples: DataFrame, min_degree: int | None = None, max_hubs: int = HUB_CAP
) -> DataFrame:
    """Subjects whose triple count exceeds a degree threshold (default:
    the shared hub_threshold policy — cheap, robust to zipf), capped by
    top_hubs no matter how the distribution shapes up."""
    deg = triples.groupBy("s").agg(F.count("*").alias("deg"))
    if min_degree is None:
        row = deg.agg(F.mean("deg").alias("m"), F.stddev_pop("deg").alias("sd")).first()
        min_degree = hub_threshold(row["m"], row["sd"])
    return top_hubs(deg, "deg", min_degree, max_hubs).select("s", "deg")


def write_permutations_unified(
    triples: DataFrame,
    out_dir: str,
    num_partitions: int | None = None,
    hub_salt: int = 8,
    hubs: DataFrame | None = None,
    downcast: bool | None = None,
    perms: tuple[str, ...] | None = None,
    mode: str = "overwrite",
) -> str:
    """All requested sorted permutations (default: five) in ONE shuffle +
    ONE write. ``perms`` materializes a reduced variant — the reference's
    index_2tp (SPO+POS), index_2to (SPO+OPS, pair with p_index), or the
    3t trio — the router answers every pattern from any of them via its
    longest-bound-prefix fallback (plans/router._best_available).

    Each triple explodes into 5 rows tagged (perm, c1, c2, c3) with
    (c1,c2,c3) already column-permuted; one repartition on
    (perm, c1, c2 [, salt]) + sortWithinPartitions(perm, c1, c2, c3) +
    partitionBy(perm) parquet write. Same total bytes as five separate
    sorts, but one stage pair and one commit instead of five — on a
    cluster this fills every executor in a single balanced wave instead
    of five half-empty ones. Hub rows (head of the zipf degree
    distribution, same census as /root/reference/include/stats.hpp:63-114)
    get a salt so no reducer owns a hub's full range.

    The exploded shuffle is the pipeline's largest memory-bandwidth
    consumer (5x the triple volume; profiled as the non-scaling stage
    pair at high parallelism), so rows are SLIMMED before the exchange:
    perm tag + salt as tinyint, components as int32 whenever ids fit
    (dense vocab ranks fit until 2^31 distinct terms; downcast=None
    probes min/max with one cheap agg, or pass the answer if the caller
    knows it). ~24B/row narrower on the wire = roughly half the shuffle
    and sort traffic.

    hubs: optional precomputed hub-subject frame (column s). The pipeline
    passes vocab-derived hubs (frequency ranks are already materialized),
    saving the degree-census shuffle here.
    """
    spark = triples.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    sel = {name: keys for name, keys in PERM_ORDERS.items() if perms is None or name in perms}
    if downcast is None:
        r = triples.agg(
            F.min("s"), F.max("s"), F.min("p"), F.max("p"), F.min("o"), F.max("o")
        ).first()
        # non-negativity is REQUIRED, not just 32-bit width: the packed
        # layout below assumes every component is in [0, 2^31) — a negative
        # c1/c3 would borrow into the perm/c2 bits of the packed longs and
        # corrupt the tag and the (c2,c3) sort order. Callers passing
        # downcast=True explicitly assert the same invariant (dense vocab
        # ranks are non-negative by construction).
        vals = [v for v in r if v is not None]
        downcast = all(0 <= v < 2**31 for v in vals)
    if hubs is None:
        hubs = hub_subjects(triples).select("s")
    hubs_b = F.broadcast(hubs.select("s").withColumn("_is_hub", F.lit(True)))
    salt_expr = (
        F.when(
            F.col("_is_hub").isNotNull(),
            F.pmod(F.xxhash64("s", "p", "o"), F.lit(hub_salt)),
        )
        .otherwise(F.lit(0))
        .cast("tinyint")
    )
    joined = triples.join(hubs_b, "s", "left")
    if downcast:
        # BIT-PACKED exchange: UnsafeRow spends a fixed 8-byte slot per
        # field, so an int32 downcast alone shrinks parquet but NOT the
        # wire. Packing (perm,c1) and (c2,c3) into two longs takes the row
        # from 5 slots to 3 AND turns the 4-key sort into a 2-key compare:
        #   k1 = perm<<32 | c1   (order == (perm, c1))
        #   k2 = c2 <<32 | c3   (order == (c2, c3); ids are >=0 < 2^31)
        # Partition keys stay (perm,c1,c2,salt) == (k1, k2>>32, salt) so
        # the (c1,c2)-group co-location and hub salting are unchanged.
        tagged = joined.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            (F.lit(PERM_IDS[name] << 32) + F.col(keys[0])).alias("k1"),
                            (
                                F.shiftleft(F.col(keys[1]), 32) + F.col(keys[2])
                            ).alias("k2"),
                            salt_expr.alias("_salt"),
                        )
                        for name, keys in sel.items()
                    ]
                )
            ).alias("r")
        ).select("r.*")
        # n (not 5n) reducers: the packed rows are ~1/3 the bytes, so n
        # partitions keep per-task input moderate while paying 1 wave of
        # task fixed costs instead of 5 — at real scale callers size
        # num_partitions by bytes anyway.
        mask = F.lit(0xFFFFFFFF)
        (
            tagged.repartition(n, "k1", F.shiftrightunsigned("k2", 32), "_salt")
            .sortWithinPartitions("k1", "k2")
            .select(
                F.shiftrightunsigned("k1", 32).cast("tinyint").alias("perm"),
                F.col("k1").bitwiseAND(mask).cast("int").alias("c1"),
                F.shiftrightunsigned("k2", 32).cast("int").alias("c2"),
                F.col("k2").bitwiseAND(mask).cast("int").alias("c3"),
            )
            .write.mode(mode)
            .partitionBy("perm")
            .parquet(out_dir)
        )
        return out_dir
    # 64-bit ids (e.g. --hash mode): no packing possible, plain layout
    tagged = joined.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(PERM_IDS[name]).cast("tinyint").alias("perm"),
                        F.col(keys[0]).alias("c1"),
                        F.col(keys[1]).alias("c2"),
                        F.col(keys[2]).alias("c3"),
                        salt_expr.alias("_salt"),
                    )
                    for name, keys in sel.items()
                ]
            )
        ).alias("r")
    ).select("r.*")
    (
        tagged.repartition(5 * n, "perm", "c1", "c2", "_salt")
        .sortWithinPartitions("perm", "c1", "c2", "c3")
        .drop("_salt")
        .write.mode(mode)
        .partitionBy("perm")
        .parquet(out_dir)
    )
    return out_dir


def has_parquet(path: str) -> bool:
    """True iff ``path`` is a directory with a .parquet file at any depth."""
    return any(f.endswith(".parquet") for _, _, files in os.walk(path) for f in files)


def read_permutations_unified(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """Read back the unified layout as canonical (s, p, o) tables. The
    int32 and 64-bit component layouts both read as long (the schema
    comes from the footers); empty corpora write zero files, so a missing
    directory or one without a .parquet file reads as a typed empty
    relation. Any other read error (a corrupt part file) raises: a broken
    index must not read as an empty one."""
    base = spark.read.parquet(out_dir) if has_parquet(out_dir) else None
    if base is None or "perm" not in base.columns:
        base = spark.range(0).select(
            F.lit(None).cast("long").alias("c1"),
            F.lit(None).cast("long").alias("c2"),
            F.lit(None).cast("long").alias("c3"),
            F.lit(None).cast("int").alias("perm"),
        )
    # reduced variants: only perms actually on disk enter the dict — the
    # router treats a MISSING table as "fall back", an EMPTY one as truth.
    present = set()
    for entry in (os.listdir(out_dir) if os.path.isdir(out_dir) else []):
        if entry.startswith("perm="):
            present.add(entry.split("=", 1)[1])
    out = {}
    for name, keys in PERM_ORDERS.items():
        if present and str(PERM_IDS[name]) not in present:
            continue
        df = base.filter(F.col("perm") == F.lit(PERM_IDS[name]))
        out[name] = df.select(
            *[F.col(f"c{i+1}").cast("long").alias(k) for i, k in enumerate(keys)]
        ).select("s", "p", "o")
    return out


def compute_stats(triples: DataFrame) -> DataFrame:
    """The 7-count stats row (pre-sizes structures in the reference,
    /root/reference/include/parameters.hpp:13-29). Exact counts — the
    reference's tests depend on them, so no approx_count_distinct."""
    return triples.agg(
        F.count("*").alias("num_triples"),
        F.countDistinct("s").alias("distinct_subjects"),
        F.countDistinct("p").alias("distinct_predicates"),
        F.countDistinct("o").alias("distinct_objects"),
        F.countDistinct("s", "p").alias("distinct_sp_pairs"),
        F.countDistinct("p", "o").alias("distinct_po_pairs"),
        F.countDistinct("o", "s").alias("distinct_os_pairs"),
    )


def sketch_stats(triples: DataFrame, lg_k: int = 14) -> DataFrame:
    """MERGEABLE approximate stats row: exact num_triples + six
    HyperLogLog sketches (Apache DataSketches via hll_sketch_agg) for
    the D1 distinct counts — the incremental-ingest complement of
    ``compute_stats``. An LSM delta generation (delta.py) sketches its
    own triples once at write time; ``merge_sketch_stats`` then unions
    any set of generation sketches into fresh whole-index stats WITHOUT
    rescanning old data — the only way the 7-count row stays cheap at
    10^12 triples with continuous ingest (exact countDistinct is a full
    rescan per refresh).

    Pair identities (sp/po/os) are sketched over ``xxhash64(a, b)`` —
    a 64-bit injective-in-practice pair key (collision odds ~n^2/2^64;
    at 10^12 pairs that is ~3% of ONE count unit, far under the HLL
    error itself). lg_k=14 → ~0.8% relative error, 16 KiB per sketch.

    Output: one row, (num_triples, sk_s, sk_p, sk_o, sk_sp, sk_po,
    sk_os) with sketches as binary; feed to ``merge_sketch_stats``.
    """
    k = F.lit(lg_k)
    return triples.agg(
        F.count("*").alias("num_triples"),
        F.hll_sketch_agg("s", k).alias("sk_s"),
        F.hll_sketch_agg("p", k).alias("sk_p"),
        F.hll_sketch_agg("o", k).alias("sk_o"),
        F.hll_sketch_agg(F.xxhash64("s", "p"), k).alias("sk_sp"),
        F.hll_sketch_agg(F.xxhash64("p", "o"), k).alias("sk_po"),
        F.hll_sketch_agg(F.xxhash64("o", "s"), k).alias("sk_os"),
    )


def merge_sketch_stats(stat_frames: list[DataFrame]) -> DataFrame:
    """Union any number of ``sketch_stats`` rows (one per delta
    generation / partition / day) into a single approximate 7-count
    stats row with the SAME column names as ``compute_stats`` —
    num_triples stays exact (additive), distinct counts are HLL-union
    estimates. The merge touches only the sketch rows themselves
    (16 KiB each), never the data."""
    if not stat_frames:
        raise ValueError("merge_sketch_stats needs at least one frame")
    allf = stat_frames[0]
    for f in stat_frames[1:]:
        allf = allf.unionByName(f)
    merged = allf.agg(
        F.sum("num_triples").alias("num_triples"),
        *[F.hll_union_agg(c).alias(c) for c in ("sk_s", "sk_p", "sk_o", "sk_sp", "sk_po", "sk_os")],
    )
    return merged.select(
        F.col("num_triples").cast("long").alias("num_triples"),
        F.hll_sketch_estimate("sk_s").alias("distinct_subjects"),
        F.hll_sketch_estimate("sk_p").alias("distinct_predicates"),
        F.hll_sketch_estimate("sk_o").alias("distinct_objects"),
        F.hll_sketch_estimate("sk_sp").alias("distinct_sp_pairs"),
        F.hll_sketch_estimate("sk_po").alias("distinct_po_pairs"),
        F.hll_sketch_estimate("sk_os").alias("distinct_os_pairs"),
    )


def export_text(triples: DataFrame, out_dir: str, num_partitions: int | None = None) -> dict[str, str]:
    """Reference-compatible text export: per permutation, whitespace-
    separated lines in that permutation's COLUMN order (A3 sink,
    /root/reference/scripts/map_dataset.py:43,67-68), globally sorted via
    range partitioning (part files concatenate in order)."""
    spark = triples.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    paths = {}
    for name, keys in PERM_ORDERS.items():
        path = os.path.join(out_dir, f"text_{name}")
        (
            triples.repartitionByRange(n, *[F.col(k) for k in keys])
            .sortWithinPartitions(*keys)
            .select(F.concat_ws(" ", *[F.col(k).cast("string") for k in keys]).alias("value"))
            .write.mode("overwrite")
            .text(path)
        )
        paths[name] = path
    return paths


def read_text_permutation(spark: SparkSession, path: str, perm: str = "spo") -> DataFrame:
    """A4 source: read a reference-format permutation text file ("c1 c2 c3"
    per line, columns in the PERMUTATION's order) and reorder back to
    canonical (s, p, o) — the Spark twin of triplets_iterator::read_next
    (/root/reference/include/util_types.hpp:80-110). Round-trips with
    export_text, so our output feeds the reference's `build` binaries and
    vice versa."""
    keys = PERM_ORDERS[perm]
    raw = spark.read.csv(path, sep=" ", schema=", ".join(f"{k} long" for k in keys))
    return raw.select("s", "p", "o")


def p_index(triples: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """E4: the predicate→subjects inverted index of index_2to, built there
    by a two-pass counting sort (/root/reference/include/index_2to.hpp:32-96).
    Relationally it is the distinct (p, s) projection in (p, s) order —
    one shuffle; the range partitioning replays the counting sort's
    bucket-then-scatter layout."""
    n = num_partitions or triples.sparkSession.sparkContext.defaultParallelism
    return (
        triples.select("p", "s")
        .dropDuplicates(["p", "s"])
        .repartitionByRange(n, "p", "s")
        .sortWithinPartitions("p", "s")
    )


def rank_remap(triples: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """E5: the pef_r_3t cross-permutation rank mapper
    (/root/reference/include/mappers.hpp:21-45) — replace the POS trie's
    third-level subject ids by each subject's RANK within the OSP trie's
    subject list for that object, shrinking the stored integers. Output:
    (p, o, s_rank) in (p, o) order. Relationally the OSP subject list of
    object o is the sorted distinct s per o, so rank = dense rank of s
    within o — computed via the distributed grouped rank (range partition
    + partition-local window + distributed offsets): a plain
    Window.partitionBy("o") would funnel a hub object's entire distinct-
    subject list through ONE task, the exact straggler the repo's ranking
    helpers exist to avoid.

    num_partitions: size by the triple volume (the repo's partitions-
    follow-data rule); defaults to the session parallelism."""
    from ..functions.ranking import grouped_rank

    ranked = grouped_rank(
        triples.select("o", "s").dropDuplicates(["o", "s"]),
        "o",
        ["s"],
        id_col="s_rank",
        num_partitions=num_partitions,
    )
    out = (
        triples.join(ranked, ["o", "s"])
        .select("p", "o", F.col("s_rank").cast("long"))
    )
    n = num_partitions or int(
        triples.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    return out.repartitionByRange(n, "p", "o").sortWithinPartitions("p", "o", "s_rank")


def rank_remap_decode(remapped: DataFrame, osp: DataFrame) -> DataFrame:
    """Inverse of rank_remap — the read path of the pef_r_3t layout: the
    reference stores POS third-level subjects as ranks and maps them back
    through the OSP trie's per-object subject list on access
    (sorted_array_mapper wired to the OSP trie,
    /root/reference/include/mappers.hpp:21-45 +
    /root/reference/include/index_3t.hpp:30-31). Relationally: recompute
    the per-object dense subject rank over OSP's distinct (o, s) — the
    same distributed grouped rank the encoder used — and join the
    remapped (p, o, s_rank) rows back to (s, p, o). Exact round-trip:
    rank_remap_decode(rank_remap(t), t) == t."""
    from ..functions.ranking import grouped_rank

    subj = grouped_rank(
        osp.select("o", "s").dropDuplicates(["o", "s"]), "o", ["s"], id_col="s_rank"
    )
    return remapped.join(subj, ["o", "s_rank"]).select("s", "p", "o")


def space_stats(spark: SparkSession, out_dir: str, num_triples: int) -> DataFrame:
    """D2: per-permutation space statistics — bytes on disk and bits per
    triple (the reference prints the same breakdown per trie level,
    /root/reference/include/stats.hpp:137-189, /root/reference/src/
    statistics.cpp:9-16). Parquet encodings play the role of the
    reference's EF/PEF/VByte codecs, so bpt here measures the same thing
    its `build` binary prints."""
    rows = []
    for name in PERM_ORDERS:
        total = 0
        for dirpath, _, files in os.walk(os.path.join(out_dir, f"perm={PERM_IDS[name]}")):
            total += sum(
                os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".parquet")
            )
        bpt = (total * 8.0 / num_triples) if num_triples else 0.0
        rows.append((name, total, round(bpt, 2)))
    from ..functions.ranking import _literal_df

    return _literal_df(
        spark, rows, [("perm", "string"), ("bytes", "long"), ("bits_per_triple", "double")]
    )


def export_vocab_text(vocab: DataFrame, path: str, num_partitions: int | None = None) -> str:
    """Reference-format vocabulary sink: one term per line, line number ==
    id (the reference writes terms in descending-frequency order and
    reassigns id = line number on reload,
    /root/reference/scripts/extract_vocabs.py:64-67,72-85,
    /root/reference/scripts/map_dataset.py:16-26). Range-partitioned by id
    so part files concatenate in id order — same contract as export_text."""
    n = num_partitions or vocab.sparkSession.sparkContext.defaultParallelism
    (
        vocab.repartitionByRange(n, F.col("id"))
        .sortWithinPartitions("id")
        .select(F.col("term").cast("string").alias("value"))
        .write.mode("overwrite")
        .text(path)
    )
    return path


def read_vocab_text(spark: SparkSession, path: str) -> DataFrame:
    """Reload a reference-format vocab file: id = line number
    (map_dataset.py:16-26). NOT sc.textFile().zipWithIndex(): Hadoop
    split ordering does not guarantee file-name order, which scrambles
    ids across part files. Instead each part file is one row
    (wholetext), lines get in-file ordinals via posexplode, and file
    offsets come from a running sum over the file list in NAME order —
    part files concatenate by name, the same contract export_vocab_text
    and export_text write under. The only window runs over one row per
    part FILE (writer-partition count, never data-sized)."""
    from pyspark.sql import Window

    files = (
        spark.read.option("wholetext", "true")
        .text(path)
        .select(
            F.input_file_name().alias("_f"),
            F.split(F.regexp_replace("value", "\n$", ""), "\n").alias("_lines"),
        )
    )
    w = Window.orderBy("_f").rowsBetween(Window.unboundedPreceding, -1)
    with_off = files.withColumn(
        "_off", F.coalesce(F.sum(F.size("_lines")).over(w), F.lit(0))
    )
    return with_off.select(
        F.posexplode("_lines").alias("_i", "term"), "_off"
    ).select("term", (F.col("_off") + F.col("_i")).cast("long").alias("id"))


def export_stats_text(stats: DataFrame, path: str) -> None:
    """7-line integer file, the reference's .stats format
    (/root/reference/scripts/build_stats.py:54-56)."""
    row = stats.first()
    with open(path, "w") as f:
        for c in STATS_COLS:
            f.write(f"{row[c]}\n")
