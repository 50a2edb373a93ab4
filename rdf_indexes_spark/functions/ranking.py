"""Scalable deterministic dense-id assignment (SURVEY.md B2).

The reference assigns vocab ids by line number of a globally sorted file
(/root/reference/scripts/map_dataset.py:16-26). A naive Spark translation
is ``row_number().over(Window.orderBy(...))`` — a single-partition window
that serializes the whole table through one task and cannot work at
10^12-row scale.

Instead: two-phase rank (``dense_ids``).
  1. range-repartition by the (optional group key, order) keys (Spark's
     sample-based RangePartitioner = distributed external sort), persist
     so partition assignment is stable across the two jobs;
  2. count rows per (group, partition) (tiny driver-side collect),
     exclusive prefix-sum per group → per-partition id offset;
  3. per-partition row_number (Window.partitionBy(spark_partition_id) —
     parallel, no global shuffle) + broadcast-joined offset.

Total cost: one range shuffle + one tiny collect; no single-task stage.
``grouped_rank`` is the same plan with the offsets computed distributedly,
for group counts too large for the driver.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _literal_df(spark, rows: list[tuple], schema: list[tuple[str, str]]) -> DataFrame:
    """Tiny driver-side table as ONE pure JVM literal: the rows travel as
    a JSON string that from_json parses (constant-folded at planning) and
    explode unnests over range(1). spark.createDataFrame(list) builds a
    ParallelCollectionRDD + PythonRDD whose evaluation spins up Python
    workers INSIDE the consuming job (measured: ~7s of dead wait per task
    in broadcast subqueries at local[32]); a struct-of-lit per cell stays
    in the JVM too, but costs 3 py4j calls per cell. JSON integers parse
    as exact longs (ids above 2^53 and negative hash ids survive), and
    FAILFAST turns a cell that does not fit its type into an error, not
    a silent NULL."""
    names = [n for n, _ in schema]
    ddl = ", ".join(f"`{n.replace('`', '``')}`: {t}" for n, t in schema)
    js = json.dumps(
        [dict(zip(names, row)) for row in rows],
        # numpy scalars -> Python numbers; dates/decimals -> their text,
        # which from_json parses back into the declared type
        default=lambda v: v.item() if hasattr(v, "item") else str(v),
    )
    return spark.range(1).select(
        F.explode(
            F.from_json(F.lit(js), f"array<struct<{ddl}>>", {"mode": "FAILFAST"})
        ).alias("_r")
    ).select("_r.*")


def dense_ids(
    df: DataFrame,
    order_cols: list[Column | str],
    id_col: str = "id",
    group_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``id_col``: dense 0..n-1 ranks in the total order of order_cols,
    independently per value of ``group_col`` when one is given (the three
    vocab roles rank in ONE pass: one range shuffle, one tiny collect).

    Rows must be unique in the (group, order) keys for the ids to be a
    permutation (vocab terms are). Keys equal under the order land in the
    same range partition, so ranking is still total and deterministic.

    The result is always materialized (eager localCheckpoint, safe for
    concurrent downstream consumers) and the two intermediate caches are
    dropped before returning, so looping callers don't accumulate
    agg-output-sized frames in executor memory."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    keys = [group_col] if group_col else []
    # cache the input once: the RangePartitioner's sampling pass executes
    # the child plan and the exchange executes it AGAIN — for a df that is
    # itself an aggregation (vocab frequency), that would double the
    # heaviest upstream stage. A persist makes the second execution a
    # cache hit and, unlike localCheckpoint, can be dropped below.
    df = df.persist()
    # persist: the range shuffle is reused by the counts collect AND the
    # output join below, and partition assignment must be STABLE across
    # the two jobs.
    ranged = (
        df.repartitionByRange(n, *keys, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    rows = ranged.groupBy(*keys, "_pid").agg(F.count("*").alias("cnt")).collect()
    by_group: dict = {}
    for r in rows:
        g = tuple(r[k] for k in keys)
        by_group.setdefault(g, []).append((r["_pid"], r["cnt"]))
    offsets = []
    for g, lst in by_group.items():
        acc = 0
        for pid, cnt in sorted(lst):
            offsets.append((*g, pid, acc))
            acc += cnt
    schema = [(k, df.schema[k].dataType.simpleString()) for k in keys]
    off_df = _literal_df(
        df.sparkSession, offsets, [*schema, ("_pid", "int"), ("_off", "long")]
    )
    w = Window.partitionBy(*keys, "_pid").orderBy(*order_cols)
    out = (
        ranged.withColumn("_rn", F.row_number().over(w) - 1)
        .join(F.broadcast(off_df), [*keys, "_pid"])
        .withColumn(id_col, (F.col("_rn") + F.col("_off")).cast("long"))
        .drop("_pid", "_rn", "_off")
    )
    # MATERIALIZE the ranks before returning. The offsets above are valid
    # only for the partitioning the counts were collected from; if a
    # caller's query holds TWO instances of this frame (a self-join — e.g.
    # negative_samples joins the rank table once for the true-object rank
    # and once for the draw resolution), Spark's self-join attribute
    # dedup can bypass the InMemoryRelation and re-execute the range
    # exchange per instance with freshly SAMPLED bounds — per-instance
    # partitionings that no longer match the one offsets dict (measured:
    # 8658/9973 wrong ranks + lost join rows at sf0.1). The eager cut
    # pins one physical (term, rank) table for every consumer; output is
    # agg-output-sized, so the extra materialization is cheap.
    out = out.localCheckpoint(eager=True)
    ranged.unpersist()
    df.unpersist()
    return out


def grouped_rank(
    df: DataFrame,
    group_col: str,
    order_cols: list[Column | str],
    id_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense 0..k-1 rank of each row WITHIN its group, in order_cols order
    — with NO driver-side state and NO per-group single task, for use when
    the group count itself is data-scale (dense_ids(group_col=...)
    collects one offset row per (group, partition) to the driver — right
    for 3 vocab roles, wrong for 10^9 distinct objects).

    Plan: range-partition by (group, order...) so each group's rows are
    contiguous across partitions; rank locally per (group, partition);
    add each partition's preceding-count offset, computed DISTRIBUTEDLY:
    the (group, pid, cnt) table (<= one row per group per touched
    partition — for range partitioning, #groups + #partitions rows total)
    gets an exclusive running sum over pid per group. That window's
    partitions are per-GROUP over at most #partitions rows — a hub group
    contributes rows, not its row COUNT, so no straggler."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # cut before the range exchange (sampling pass + exchange would run
    # the upstream plan twice); MEMORY_AND_DISK, data-scale like `ranged`
    df = df.localCheckpoint(eager=True)
    ranged = (
        df.repartitionByRange(n, F.col(group_col), *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)  # stable pids across the two consumers
    )
    counts = ranged.groupBy(group_col, "_pid").agg(F.count("*").alias("_cnt"))
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0))
    ).drop("_cnt")
    w = Window.partitionBy(group_col, "_pid").orderBy(*order_cols)
    return (
        ranged.withColumn("_rn", F.row_number().over(w) - 1)
        .join(offsets, [group_col, "_pid"])
        .withColumn(id_col, (F.col("_rn") + F.col("_off")).cast("long"))
        .drop("_pid", "_rn", "_off")
    )


def exact_quantiles(
    df: DataFrame,
    col: str,
    permille: tuple[int, ...] = (500, 900, 990),
) -> DataFrame:
    """EXACT nearest-rank quantiles of an integer-ish column, without a
    global sort task: (permille, rank, value, n) per requested point,
    where rank = ceil(permille·n / 1000) (1-based nearest-rank, integer
    arithmetic only — no float probability ever touches the rank, so
    every engine agrees on every edge case; ``percentile_approx`` gives
    neither exactness nor cross-run stability).

    Plan: the two-phase distributed rank (range exchange + in-partition
    window + broadcast offsets — ``dense_ids``) assigns every row its
    global 0-based position in value order; a broadcast join against
    the requested target ranks keeps |permille| rows. Duplicate values
    make row order within a tie arbitrary but the value AT any rank is
    unique, so the result is deterministic. Cost: one corpus-scale
    range exchange — the honest price of an exact quantile; use
    percentile_approx when approximation is acceptable.
    """
    for pm in permille:
        if not 0 < pm <= 1000:
            raise ValueError(f"permille points must be in (0, 1000], got {pm}")
    spark = df.sparkSession
    vals = df.select(F.col(col).alias("_v"))
    n = vals.count()
    if n == 0:
        raise ValueError("exact_quantiles over an empty frame")
    targets = _literal_df(
        spark,
        [(int(pm), (pm * n + 999) // 1000) for pm in sorted(set(permille))],
        [("permille", "long"), ("_target", "long")],
    )
    ranked = dense_ids(vals, ["_v"], id_col="_rk")
    return (
        ranked.join(
            F.broadcast(targets), F.col("_rk") == F.col("_target") - 1
        )
        .select(
            "permille",
            F.col("_target").alias("rank"),
            F.col("_v").alias("value"),
            F.lit(n).cast("long").alias("n"),
        )
    )


def grouped_quantiles(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    permille: tuple[int, ...] = (500, 900, 990),
) -> DataFrame:
    """(groups..., permille, rank, value, n): EXACT nearest-rank
    quantiles PER GROUP — rank = ceil(permille·n/1000) in pure integer
    arithmetic, the same contract as ``exact_quantiles``.

    Plan: one group-keyed exchange; row_number + count windows share
    the partitioning, the permille expansion is a map-side explode
    filtered in the same codegen stage. Each group sorts within one
    task — right for bounded groups (per-language, per-source stats);
    for one giant group use ``exact_quantiles``'s range-exchange plan.
    """
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    pms = sorted(set(int(p) for p in permille))
    for pm in pms:
        if not 0 < pm <= 1000:
            raise ValueError(f"permille points must be in (0, 1000], got {pm}")
    w = Window.partitionBy(*group_cols).orderBy(F.col("value"))
    wn = Window.partitionBy(*group_cols)
    ranked = df.select(*group_cols, F.col(col).alias("value")).select(
        "*",
        F.row_number().over(w).alias("_rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return (
        ranked.withColumn("permille", F.explode(F.array(*[F.lit(p) for p in pms])))
        .withColumn(
            "rank",
            ((F.col("permille") * F.col("n") + 999) - F.pmod(
                F.col("permille") * F.col("n") + 999, F.lit(1000)
            )) / F.lit(1000),
        )
        .withColumn("rank", F.col("rank").cast("long"))
        .filter(F.col("_rk") == F.col("rank"))
        .select(
            *group_cols,
            F.col("permille").cast("long").alias("permille"),
            "rank",
            "value",
            F.col("n").cast("long").alias("n"),
        )
    )


def rrf_fuse(
    ranked: list,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k0: int = 60,
    k: int = 10,
):
    """Reciprocal-rank fusion (Cormack et al. 2009) of N ranked lists —
    the standard hybrid-search combiner (e.g. BM25 ⊕ embedding-cosine).

    Contract is EXACT-INTEGER so the result is engine-portable: each
    list contributes ``1e9 div (k0 + rank)`` (integer division, not a
    float reciprocal — a double 1/(k0+r) sum would be association-
    ordered), a document absent from a list contributes 0, and the
    fused score is an order-free integer sum. Returns the top ``k``:
    (id, score_x1e9, n_lists, rank), ties by id ascending.

    Scale shape: ranked lists are already top-N frames (tiny); the
    union + id-keyed sum + TakeOrdered top-k never touches the corpus.
    When fusing corpus-scale rankings the same plan holds: one union,
    one hash aggregate on the id, per-partition top-k merge — no
    single-partition sort of the corpus.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    parts = [
        df.select(
            F.col(id_col).alias("_id"),
            F.expr(f"1000000000L div ({int(k0)} + {rank_col})").alias("_c"),
        )
        for df in ranked
    ]
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    fused = allc.groupBy("_id").agg(
        F.sum("_c").alias("score_x1e9"), F.count(F.lit(1)).alias("n_lists")
    )
    top = fused.orderBy(F.desc("score_x1e9"), F.asc("_id")).limit(k)
    w = Window.orderBy(F.desc("score_x1e9"), F.asc("_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("_id").alias(id_col),
        "score_x1e9",
        F.col("n_lists").cast("long").alias("n_lists"),
        F.col("rank").cast("long").alias("rank"),
    )
