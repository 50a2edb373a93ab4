"""Querylog sampling + workload execution (SURVEY.md A7).

The reference samples 5000 random triples from the corpus (`shuf -n
5000`, /root/reference/README.md:190-194) and stamps wildcards onto the
TRAILING components of the chosen permutation's order — `-w 1` on perm
spo turns (s,p,o) into the pattern S P ?; `-w 2` into S ? ?
(/root/reference/src/queries.cpp:50-93: the last `num_wildcards`
components in permutation order are set to uint64(-1)).

Sampling here is a deterministic hash-order top-n (xxhash64 ordering ≙
shuf with a fixed seed — reproducible across runs and engines), so query
workloads are stable inputs for the latency bench.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ranking import _literal_df
from ..operators.permutations import PERM_ORDERS
from .router import _ROUTE, _best_available, select


@dataclass(frozen=True)
class Pattern:
    s: int | None
    p: int | None
    o: int | None


def sample_querylog(
    triples: DataFrame,
    n: int = 5000,
    seed: int = 7,
    order: str = "hash",
) -> list[tuple[int, int, int]]:
    """n corpus triples in deterministic order (collect is driver-side by
    design: a querylog is a tiny workload artifact, exactly like the
    reference's `shuf -n 5000 > queries` file).

    order="hash": pseudo-random via xxhash64 (≙ shuf with a fixed seed) —
    the bench workload. order="sorted": first n triples in (s,p,o) order —
    engine-portable, so an ANSI-SQL oracle (row_number OVER (ORDER BY
    s,p,o)) can replay the exact same sample."""
    key = (
        F.xxhash64(F.lit(seed), "s", "p", "o")
        if order == "hash"
        else F.struct("s", "p", "o")
    )
    rows = triples.select("s", "p", "o").orderBy(key).limit(n).collect()
    return [(r["s"], r["p"], r["o"]) for r in rows]


def stamp_wildcards(
    triple: tuple[int, int, int], perm: str = "spo", num_wildcards: int = 1
) -> Pattern:
    """Blank the trailing `num_wildcards` components of `perm`'s order."""
    keys = PERM_ORDERS[perm]
    vals = dict(zip(("s", "p", "o"), triple))
    for k in keys[3 - num_wildcards :] if num_wildcards else ():
        vals[k] = None
    return Pattern(s=vals["s"], p=vals["p"], o=vals["o"])


def run_querylog(
    tables: dict[str, DataFrame],
    patterns: list[Pattern],
) -> dict[str, float]:
    """Execute each pattern, count results; return the reference driver's
    report shape (musec/query, ns/triple — /root/reference/src/queries.cpp:
    155-161). Per-query latency in local mode is dominated by job-launch
    overhead (~ms), not data — the honest per-triple number is the
    aggregate."""
    t0 = time.monotonic()
    total_triples = 0
    for q in patterns:
        total_triples += select(tables, s=q.s, p=q.p, o=q.o).count()
    elapsed = time.monotonic() - t0
    nq = max(1, len(patterns))
    return {
        "queries": float(nq),
        "triples": float(total_triples),
        "musec_per_query": elapsed * 1e6 / nq,
        "ns_per_triple": (elapsed * 1e9 / total_triples) if total_triples else 0.0,
        "elapsed_sec": elapsed,
    }


def run_querylog_batched(
    tables: dict[str, DataFrame],
    patterns: list[Pattern],
) -> DataFrame:
    """Set-oriented execution of a whole querylog as ONE broadcast join —
    the Spark-native way to run a 5000-query workload (a driver loop of
    jobs measures scheduler overhead, not the engine), planned as one
    join over a union rather than a union of per-class joins (the
    per-branch cost "Joins over UNION ALL Queries", SIGMOD 2018, avoids).

    Each pattern routes like select() (_ROUTE + _best_available). Every
    routed table contributes one scan projected to (t, c1, c2, c3, s, p,
    o), c1..c3 in that table's sort order; the keys table is one literal
    (qid, t, k1, k2, k3), k2/k3 NULL where wildcarded. The join is equi
    on (t, c1 = k1) with residuals `k2 IS NULL OR c2 = k2` (same for k3).
    Patterns whose table has its leading column unbound (??? and reduced-
    variant fallbacks such as ??O on a 2tp index) use a second scan of
    that table under its own t whose c1 is the constant 0, and k1 = 0: on
    that branch the join is on t alone, under the same residuals. So a
    log costs one broadcast build plus one scan job, however many
    wildcard classes it holds.

    Returns (qid, s, p, o) result rows for ALL patterns (typed empty
    frame for an empty log)."""
    spark = next(iter(tables.values())).sparkSession
    if not patterns:
        return _literal_df(spark, [], [(c, "long") for c in ("qid", "s", "p", "o")])
    branches: dict[tuple[str, bool], int] = {}  # (table, lead bound) -> t
    keys = []
    for qid, q in enumerate(patterns):
        vals = {"s": q.s, "p": q.p, "o": q.o}
        bound = {c for c, v in vals.items() if v is not None}
        name = _best_available(tables, _ROUTE[tuple(c in bound for c in "spo")], bound)
        c1, c2, c3 = PERM_ORDERS[name]
        lead = c1 in bound
        t = branches.setdefault((name, lead), len(branches))
        keys.append((qid, t, vals[c1] if lead else 0, vals[c2], vals[c3]))
    scans = []
    for (name, lead), t in branches.items():
        c1, c2, c3 = PERM_ORDERS[name]
        scans.append(
            tables[name].select(
                F.lit(t).alias("t"),
                (F.col(c1) if lead else F.lit(0).cast("long")).alias("c1"),
                F.col(c2).alias("c2"),
                F.col(c3).alias("c3"),
                "s", "p", "o",
            )
        )
    # pure-JVM literal keys table: createDataFrame(list) would put a
    # PythonRDD inside the broadcast and spin a python worker per task
    # (~7s dead wait each, see functions/ranking._literal_df).
    k = _literal_df(
        spark,
        keys,
        [("qid", "long"), ("t", "int"), ("k1", "long"), ("k2", "long"), ("k3", "long")],
    ).alias("k")
    u = reduce(DataFrame.unionByName, scans).alias("u")
    cond = (F.col("u.t") == F.col("k.t")) & (F.col("u.c1") == F.col("k.k1"))
    for c, kc in (("c2", "k2"), ("c3", "k3")):
        cond &= F.col(f"k.{kc}").isNull() | (F.col(f"u.{c}") == F.col(f"k.{kc}"))
    return u.join(F.broadcast(k), cond).select("k.qid", "u.s", "u.p", "u.o")
