"""Cross-engine oracle sweep at an arbitrary scale factor.

The driver's correctness gate compares every `__spark_entry__.queries()`
entry against its `oracle_sql()` DuckDB twin at sf=0.01. Several
operators switch physical strategy with data size (size-gated broadcast
vs shuffle joins in the dictionary encode, hub salting, downcast
probes), so passing at one size does not exercise the other branch —
this sweep re-runs the full comparison at any sf directory (default
sf0.1, where the large-side branches engage).

Usage: oracle_sweep.py [--out RESULTS.json] [SF_DIR] [NAME ...]
(no names = all oracles). Exit 0 iff every compared entry matches
rows+columns+values. With --out (or SPARK_GRAFT_SWEEP_OUT), a
machine-readable per-key result log {name: {rows_spark, rows_oracle,
ok, sec, err}} plus a summary header is written so sweep claims are
auditable without re-running Spark (checked in as
BENCH/oracle_sweep_r*.json).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import duckdb

    import __spark_entry__ as entry_mod
    from rdf_indexes_spark.session import get_spark

    argv = sys.argv[1:]
    out_path = os.environ.get("SPARK_GRAFT_SWEEP_OUT", "")
    if argv and argv[0] == "--out":
        if len(argv) < 2:
            print("usage: oracle_sweep.py [--out RESULTS.json] [SF_DIR] [NAME ...]", file=sys.stderr)
            return 2
        out_path = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    names = argv[1:] or sorted(entry_mod.oracle_sql())
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark = get_spark(cores=cpus, shuffle_partitions=2 * cpus, driver_memory="8g")
    con = duckdb.connect()
    for t in entry_mod.SF_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    fails = []
    results: dict[str, dict] = {}
    for name in names:
        t0 = time.monotonic()
        try:
            got = qs[name](spark, sf_dir).toPandas()
            want = con.execute(osql[name]).df()
            cols = sorted(got.columns)
            ok = cols == sorted(want.columns) and len(got) == len(want)
            if ok:
                a = got[cols].sort_values(cols).reset_index(drop=True)
                b = want[cols].sort_values(cols).reset_index(drop=True)
                for c in cols:
                    if a[c].dtype == object:
                        a[c], b[c] = a[c].astype(str), b[c].astype(str)
                    elif a[c].dtype.kind == "f":
                        a[c] = a[c].round(9)
                        b[c] = b[c].astype("float64").round(9)
                    else:
                        b[c] = b[c].astype(a[c].dtype)
                ok = a.equals(b)
            sec = round(time.monotonic() - t0, 1)
            print(
                f"{name}: rows {len(got)}/{len(want)} "
                f"{'OK' if ok else 'MISMATCH'} ({sec}s)",
                flush=True,
            )
            results[name] = {
                "rows_spark": len(got),
                "rows_oracle": len(want),
                "ok": bool(ok),
                "sec": sec,
                "err": None,
            }
            if not ok:
                fails.append(name)
        except Exception as ex:  # noqa: BLE001 — sweep must report, not die
            print(f"{name}: ERROR {type(ex).__name__}: {str(ex)[:200]}", flush=True)
            results[name] = {
                "rows_spark": None,
                "rows_oracle": None,
                "ok": False,
                "sec": round(time.monotonic() - t0, 1),
                "err": f"{type(ex).__name__}: {str(ex)[:200]}",
            }
            fails.append(name)
    print("FAILS:", fails, flush=True)
    if out_path:
        artifact = {
            "sf_dir": sf_dir,
            "n_compared": len(results),
            "n_ok": sum(1 for r in results.values() if r["ok"]),
            "fails": fails,
            "results": results,
        }
        with open(out_path, "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        print(f"wrote {out_path}", flush=True)
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
