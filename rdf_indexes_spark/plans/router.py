"""Pattern → permutation router: the reference's only query planner
(SURVEY.md §2.F, F1-F10).

A query is a triple with 0-3 wildcards (None here; uint64(-1) in the
reference, /root/reference/include/util_types.hpp:11-13). Routing picks
the permutation whose sort order puts the bound components first, so the
result streams in that permutation's order from a contiguous sorted range
(/root/reference/include/index_3t.hpp:159-186). In Spark the "trie
descent" becomes an equality filter on a range-sorted Parquet table —
Catalyst pushes the predicates to the scan and Parquet row-group/page
min-max stats skip everything outside the range, which is exactly the
role of the reference's pointer arrays + Elias-Fano next_geq
(/root/reference/include/algorithms.hpp:72-113).

We always materialize all five permutations, so every pattern has a
native table and the reference's fallback iterators (iterator_so /
iterator_po, /root/reference/include/algorithms.hpp:115-278) are never
needed.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# wildcard mask (s_bound, p_bound, o_bound) → permutation with bound
# columns leading its sort order (mirrors index_3t::permute,
# /root/reference/include/index_3t.hpp:159-186).
_ROUTE: dict[tuple[bool, bool, bool], str] = {
    (True, True, True): "spo",   # F1 is_member
    (True, True, False): "spo",  # F2  S P ?
    (True, False, False): "spo", # F3  S ? ?
    (False, True, True): "pos",  # F4  ? P O
    (False, True, False): "pos", # F5  ? P ?
    (False, False, True): "osp", # F6  ? ? O
    (True, False, True): "osp",  # F7  S ? O  (3t route: OSP)
    (False, False, False): "spo" # F8  ? ? ?  full scan, sorted
}


@dataclass(frozen=True)
class Route:
    perm: str
    order: tuple[str, str, str]


def route(s: int | None, p: int | None, o: int | None) -> Route:
    from ..operators.permutations import PERM_ORDERS

    perm = _ROUTE[(s is not None, p is not None, o is not None)]
    return Route(perm=perm, order=PERM_ORDERS[perm])


def _best_available(tables: dict[str, DataFrame], preferred: str, bound: set[str]) -> str:
    """Reduced-variant fallback (the reference's 2to/2tp indexes answer
    every pattern from fewer tries via iterator_so / iterator_po,
    /root/reference/include/algorithms.hpp:115-278): if the preferred
    permutation isn't materialized, pick the available table whose sort
    order matches the longest prefix of bound columns — Catalyst still
    pushes ALL the equality filters; only scan pruning quality degrades,
    exactly like the reference's fallback scans."""
    if preferred in tables:
        return preferred
    from ..operators.permutations import PERM_ORDERS

    def prefix_len(name: str) -> int:
        n = 0
        for c in PERM_ORDERS[name]:
            if c in bound:
                n += 1
            else:
                break
        return n

    return max(tables, key=prefix_len)


def select(
    tables: dict[str, DataFrame],
    s: int | None = None,
    p: int | None = None,
    o: int | None = None,
) -> DataFrame:
    """Answer a triple pattern; result carries the routed permutation's
    sort order (free from table layout; tests re-assert with orderBy).

    `tables` may be a REDUCED variant (e.g. only spo+pos, the reference's
    2tp): the router then falls back to the best available table."""
    r = route(s, p, o)
    bound = {c for c, v in (("s", s), ("p", p), ("o", o)) if v is not None}
    df = tables[_best_available(tables, r.perm, bound)]
    for col, val in (("s", s), ("p", p), ("o", o)):
        if val is not None:
            df = df.filter(F.col(col) == F.lit(int(val)))
    return df.select("s", "p", "o")


def is_member(tables: dict[str, DataFrame], s: int, p: int, o: int) -> bool:
    """F1: fully-bound membership probe (reference: two trie finds,
    /root/reference/include/algorithms.hpp:280-298). Partition-pruned
    single-range Parquet probe here. A plain count: limit(1) would plan
    an extra single-partition exchange ahead of it."""
    return select(tables, s, p, o).count() > 0


def member_position(tables: dict[str, DataFrame], s: int, p: int, o: int) -> int:
    """F1 with the reference's FULL return contract: is_member returns the
    triple's POSITION in SPO order, not just existence
    (/root/reference/include/algorithms.hpp:280-298 accumulates the level
    offsets into a global rank). Relationally the rank is the count of
    triples strictly below the probe in (s,p,o) order — one aggregation
    over the spo table (struct comparison keeps it a single pruned scan);
    -1 when absent, matching the reference's not-found sentinel."""
    t = tables["spo"]
    probe = F.struct(
        F.lit(int(s)).alias("s"), F.lit(int(p)).alias("p"), F.lit(int(o)).alias("o")
    )
    cur = F.struct(F.col("s"), F.col("p"), F.col("o"))
    row = t.agg(
        F.coalesce(F.sum((cur < probe).cast("long")), F.lit(0)).alias("before"),
        F.coalesce(F.max((cur == probe).cast("int")), F.lit(0)).alias("found"),
    ).first()
    return int(row["before"]) if row["found"] else -1


def count_pattern(tables: dict[str, DataFrame], s=None, p=None, o=None) -> int:
    """Result cardinality. The reference answers S?? by pointer arithmetic
    without enumeration (/root/reference/include/algorithms.hpp:86-90);
    Catalyst's pushed-down count over the pruned range is the analogue."""
    return select(tables, s, p, o).count()
