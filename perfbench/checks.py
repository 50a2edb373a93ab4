"""Correctness checks the benchmark runs outside its timed windows.

Every operation the benchmark attempts and every check it makes goes
through one ``Tally``; an exception or a failed check counts as failed.
"""

from __future__ import annotations

import traceback
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_indexes_spark.oracle import run_oracle
from rdf_indexes_spark.operators.permutations import PERM_ORDERS, compute_stats

_MASK = 0xFFFFFFFF


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}"[:500])
        return ok

    def run(self, name: str, fn, *args, **kwargs):
        """Attempt one operation; returns its result or None if it raised."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}"[-800:])
            return None


def fingerprints(tables: dict[str, DataFrame]) -> dict[str, tuple[int, int, int]]:
    """(rows, sum of low hash bits, xor of hashes) of (s, p, o) per table,
    in one job. Equal fingerprints mean equal triple multisets."""
    h = F.xxhash64("s", "p", "o")
    tagged = None
    for name, df in tables.items():
        part = df.select(F.lit(name).alias("t"), h.alias("h"))
        tagged = part if tagged is None else tagged.unionByName(part)
    rows = tagged.groupBy("t").agg(
        F.count("*").alias("n"),
        F.sum(F.col("h").bitwiseAND(F.lit(_MASK))).alias("lo"),
        F.bit_xor("h").alias("x"),
    ).collect()
    return {r["t"]: (int(r["n"]), int(r["lo"] or 0), int(r["x"] or 0)) for r in rows}


def check_index(tally: Tally, tables: dict[str, DataFrame], triples: DataFrame, stats: DataFrame, tag: str) -> int:
    """All five permutations hold the triple set; the stats row equals
    ``compute_stats`` recomputed over the triples. Returns the triple count."""
    fps = fingerprints({**tables, "triples": triples})
    want = fps.get("triples")
    for name in PERM_ORDERS:
        tally.check(f"{tag}.perm_{name}", fps.get(name) == want, f"{fps.get(name)} != {want}")
    got = stats.first().asDict()
    recomputed = compute_stats(triples).first().asDict()
    tally.check(f"{tag}.stats", got == recomputed, f"{got} != {recomputed}")
    return want[0] if want else 0


def check_against_oracle(tally: Tally, corpus: pd.DataFrame, art) -> None:
    """Row-for-row equality with the pandas oracle: the three vocabularies,
    the triple set and the stats row (the permutations are tied to the
    triple set by ``check_index``)."""
    golden = run_oracle(corpus)
    for role, df in (("s", art.vocab_s), ("p", art.vocab_p), ("o", art.vocab_o)):
        got = df.select("term", "id").toPandas().sort_values("id").reset_index(drop=True)
        want = golden[f"vocab_{role}"].sort_values("id").reset_index(drop=True)
        tally.check(f"oracle.vocab_{role}", _frames_equal(got, want), f"{len(got)} vs {len(want)} rows")
    got = art.triples.toPandas().sort_values(["s", "p", "o"]).reset_index(drop=True)
    tally.check("oracle.triples", _frames_equal(got, golden["triples"]), f"{len(got)} vs {len(golden['triples'])} rows")
    got_stats = {k: int(v) for k, v in art.stats.first().asDict().items()}
    want_stats = {k: int(v) for k, v in golden["stats"].iloc[0].to_dict().items()}
    tally.check("oracle.stats", got_stats == want_stats, f"{got_stats} != {want_stats}")


def _frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    return all((a[c].astype(str).values == b[c].astype(str).values).all() for c in a.columns)
