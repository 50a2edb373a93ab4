"""CLI drivers — the Spark twins of the reference executables
(/root/reference/src/build.cpp:33-80, src/build_permutation.cpp,
src/queries.cpp:164-227, src/statistics.cpp:9-16):

  python -m rdf_indexes_spark build --input data.nt.gz --format nt --out idx/
  python -m rdf_indexes_spark build --input transcripts.parquet --format transcripts --out idx/
  python -m rdf_indexes_spark build_permutation --input idx/ --perm pos --out pos_dir/
  python -m rdf_indexes_spark queries --index idx/ --queries q.txt [--batched]
  python -m rdf_indexes_spark statistics --index idx/

Index directory layout (written by `build`):
  idx/perms5/perm={spo,pos,osp,ops,pso}/   unified sorted permutations
  idx/stats/                               7-count stats (parquet)
  idx/stats.txt                            reference-format stats file
  idx/vocabs/{s,p,o}_vocab/                reference-format term-per-line
Query file format mirrors the reference's (README.md:176-187): one
"s p o" integer triple per line, -1 as the wildcard.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _spark(args):
    from .session import get_spark

    return get_spark(
        cores=args.cores,
        app_name=f"rdf_indexes_spark.{args.cmd}",
        master=args.master,
    )


def cmd_build(args) -> int:
    from . import pipeline
    from .operators import encode as enc
    from .operators import permutations as perm

    spark = _spark(args)
    out = args.out
    os.makedirs(out, exist_ok=True)
    t0 = time.monotonic()
    if args.format in ("nt", "nq"):
        from .sources.ntriples import rdf_to_mentions, read_ntriples

        mentions = rdf_to_mentions(read_ntriples(spark, args.input, fmt=args.format))
        if args.hash and args.hash_fn == "mmh3":
            # mmh3 vocab TERMS are hash strings (byte-parity with
            # extract_vocabs --hash), so the encode join needs the mention
            # surfaces hashed the same way — the coherent composition of
            # the reference's scripts (map_dataset.py's mapping loop
            # hashes dataset terms before lookup; NB its build_vocab
            # re-hashes an already-hashed vocab when BOTH scripts get
            # --hash, which can never match — we pair the hashed vocab
            # with single-hashed lookups instead). Hash ONCE, checkpoint,
            # and rank the hashed frame with the normal fused
            # freq-desc/first-occurrence rank (build_vocab's mmh3 branch
            # is exactly hash-then-rank, and ranks are computed per role,
            # so ids are identical by construction) — the per-row-Python
            # MurmurHash is the repo's slowest UDF and must not re-run per
            # downstream action.
            from pyspark.sql.functions import pandas_udf

            from .functions.mmh3_compat import hash64_unsigned_str

            mm = pandas_udf(hash64_unsigned_str, "string")
            mentions = (
                mentions.withColumn("cs", mm("cs"))
                .withColumn("pred", mm("pred"))
                .withColumn("co", mm("co"))
                .localCheckpoint(eager=False)
            )
            vocabs = enc.role_vocabs(enc.build_vocabs_fused(mentions))
        elif args.hash:
            mentions = mentions.localCheckpoint(eager=False)  # 3 vocab scans
            vocabs = {
                role: enc.build_vocab(mentions, col, hash_ids=True, hash_fn=args.hash_fn)
                for role, col in [("s", "cs"), ("p", "pred"), ("o", "co")]
            }
        else:
            vocabs = enc.role_vocabs(enc.build_vocabs_fused(mentions))
        encoded, quarantine = enc.encode_mentions(mentions, vocabs)
        nq = quarantine.count()
        if nq:
            print(f"warning: {nq} mentions missed a vocab (quarantined)", file=sys.stderr)
        triples = perm.dedup_triples(encoded)
        perm.write_permutations_unified(
            triples,
            os.path.join(out, "perms5"),
            num_partitions=args.partitions,
            perms=perm.VARIANT_PERMS[args.variant],
        )
        if args.variant == "2to":  # the 2to variant pairs with the p_index
            perm.p_index(triples).write.mode("overwrite").parquet(os.path.join(out, "p_index"))
        if args.variant == "pef_r":
            # the rank-remapped POS table (pef_r_3t's compressed layout,
            # include/types.hpp:70-77); read back via rank_remap_decode +
            # the osp permutation
            perm.rank_remap(triples).write.mode("overwrite").parquet(os.path.join(out, "pos_r"))
        stats = perm.compute_stats(triples)
        stats.write.mode("overwrite").parquet(os.path.join(out, "stats"))
        for role, v in vocabs.items():
            perm.export_vocab_text(v, os.path.join(out, "vocabs", f"{role}_vocab"))
    elif args.format == "transcripts":
        transcripts = spark.read.parquet(args.input)
        art = pipeline.run_pipeline(spark, transcripts, out, num_partitions=args.partitions, input_id=args.input)
        stats = art.stats
        # the documented index layout puts stats at <index>/stats
        # (cmd_statistics reads it there); run_pipeline checkpoints it under
        # perms/stats, so land a copy at the contract location too.
        stats.write.mode("overwrite").parquet(os.path.join(out, "stats"))
        for role, v in [("s", art.vocab_s), ("p", art.vocab_p), ("o", art.vocab_o)]:
            perm.export_vocab_text(v, os.path.join(out, "vocabs", f"{role}_vocab"))
        # run_pipeline writes perms under workdir/perms/perms5; link layout.
        # Symlink target is resolved relative to the LINK's directory, so it
        # must be the relative "perms/perms5", not os.path.join(out, ...) —
        # with a relative --out the latter points at out/out/perms/perms5.
        if not os.path.exists(os.path.join(out, "perms5")):
            os.symlink(os.path.join("perms", "perms5"), os.path.join(out, "perms5"))
    else:
        print(f"unknown --format {args.format}", file=sys.stderr)
        return 2
    perm.export_stats_text(stats, os.path.join(out, "stats.txt"))
    row = stats.first()
    print(json.dumps({"built": out, "num_triples": row["num_triples"], "sec": round(time.monotonic() - t0, 3)}))
    return 0


def cmd_build_permutation(args) -> int:
    """One permutation only (src/build_permutation.cpp): re-sort the index's
    triples into --perm order at --out."""
    from .operators import permutations as perm

    spark = _spark(args)
    tables = perm.read_permutations_unified(spark, os.path.join(args.input, "perms5"))
    keys = perm.PERM_ORDERS[args.perm]
    n = args.partitions or spark.sparkContext.defaultParallelism
    from pyspark.sql import functions as F

    (
        tables["spo"]
        .repartitionByRange(n, *[F.col(k) for k in keys])
        .sortWithinPartitions(*keys)
        .write.mode("overwrite")
        .parquet(args.out)
    )
    print(json.dumps({"built": args.out, "perm": args.perm}))
    return 0


def _parse_query_file(path: str):
    pats = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            s, p, o = (int(x) for x in line.split())
            pats.append(tuple(None if v == -1 else v for v in (s, p, o)))
    return pats


def cmd_queries(args) -> int:
    from .operators import permutations as perm
    from .plans.querylog import (
        Pattern,
        run_querylog,
        run_querylog_batched,
        sample_querylog,
        stamp_wildcards,
    )

    spark = _spark(args)
    tables = perm.read_permutations_unified(spark, os.path.join(args.index, "perms5"))
    # the reference driver's workflow (src/queries.cpp:50-93, README.md:
    # 190-194): take the first -n triples of a query file (or, new here,
    # sample them straight from the index — the `shuf -n 5000` step), then
    # stamp the TRAILING -w components of --perm's order to wildcards.
    if args.queries:
        raw = _parse_query_file(args.queries)
        if args.num_queries:
            raw = raw[: args.num_queries]
    else:
        base = tables.get("spo") or next(iter(tables.values()))
        raw = sample_querylog(base, n=args.num_queries or 5000)
    if args.num_wildcards:
        pats = [
            stamp_wildcards(t, perm=args.perm, num_wildcards=args.num_wildcards)
            for t in raw
        ]
    else:
        pats = [Pattern(*t) for t in raw]
    if args.batched:
        t0 = time.monotonic()
        out = run_querylog_batched(tables, pats)
        total = out.count()
        elapsed = time.monotonic() - t0
        report = {
            "queries": len(pats),
            "triples": total,
            "musec_per_query": elapsed * 1e6 / max(1, len(pats)),
            "ns_per_triple": (elapsed * 1e9 / total) if total else 0.0,
            "elapsed_sec": elapsed,
        }
    else:
        report = run_querylog(tables, pats)
    # same report shape as the reference driver (src/queries.cpp:155-161)
    print(json.dumps(report))
    return 0


def cmd_sparql(args) -> int:
    """String-level SPARQL subset over an index built by `build`: encodes
    the query's constants through the vocabularies, routes each pattern,
    joins on shared variables (term semantics across the three id
    spaces), decodes results (plans/sparql.py)."""
    from .operators import permutations as perm
    from .plans.sparql import parse_sparql, run_sparql

    def _open(spark):
        tables = perm.read_permutations_unified(
            spark, os.path.join(args.index, "perms5")
        )
        vocabs = {
            role: perm.read_vocab_text(
                spark, os.path.join(args.index, "vocabs", f"{role}_vocab")
            )
            for role in ("s", "p", "o")
        }
        return tables, vocabs

    spark = _spark(args)
    tables, vocabs = _open(spark)
    # --query is repeatable: one json line per query, in order — a
    # multi-query workload pays the session + index open once (the same
    # amortization the reference's query-file driver gets). Failures are
    # isolated per query: a bad query emits an {"error": ...} line and
    # the rest of the batch still runs; exit is non-zero iff any failed.
    failed = 0
    for query in args.query:
        try:
            q = parse_sparql(query)
            t0 = time.monotonic()
            out = run_sparql(q, tables, vocabs)
            if q.form == "ASK":
                print(json.dumps({"ask": bool(out.first()["ask"])}))
                continue
            rows = out.limit(args.max_print).collect()
            total = len(rows) if len(rows) < args.max_print else out.count()
            print(
                json.dumps(
                    {
                        "vars": out.columns,
                        "rows": total,
                        "data": [list(r) for r in rows],
                        "elapsed_sec": round(time.monotonic() - t0, 3),
                    }
                )
            )
        except Exception as ex:  # noqa: BLE001 — keep the batch running
            failed += 1
            print(
                json.dumps(
                    {
                        "error": f"{type(ex).__name__}: {ex}"[:500],
                        # cap the echo: a file-sourced multi-MB query must
                        # not produce an unbounded output line
                        "query": query[:2000],
                    }
                )
            )
            # a fatal failure (OOM, dead JVM) would otherwise take every
            # remaining query with it — probe liveness and restart the
            # session + reopen the index frames if needed (same pattern
            # as bench._time_queries)
            try:
                spark.range(1).count()
            except Exception:
                try:
                    spark.stop()
                except Exception:
                    pass
                spark = _spark(args)
                tables, vocabs = _open(spark)
    return 1 if failed else 0


def cmd_profile(args) -> int:
    """Per-level scan/access/find microbench (the reference's `./profile`
    driver, benchmark/profile.cpp:40-288) — json lines per (trie, level)."""
    from .plans.profile import profile_index

    spark = _spark(args)
    rows = profile_index(
        spark, args.index, num_queries=args.num_queries or 1000, runs=args.runs
    )
    for r in rows:
        print(json.dumps(r))
    return 0


def cmd_statistics(args) -> int:
    from .operators import permutations as perm

    spark = _spark(args)
    stats = spark.read.parquet(os.path.join(args.index, "stats"))
    row = stats.first()
    for c in perm.STATS_COLS:
        print(f"{c}: {row[c]}")
    space = perm.space_stats(spark, os.path.join(args.index, "perms5"), row["num_triples"])
    for r in space.collect():
        print(f"perm {r['perm']}: {r['bytes']} bytes, {r['bits_per_triple']} bits/triple")
    return 0


def cmd_ingest(args) -> int:
    """Incremental ingest: merge a delta transcript batch into an index
    built with `build --format transcripts` (see delta.merge_delta)."""
    from . import delta as dl
    from .operators import permutations as perm

    if not os.path.isdir(os.path.join(args.index, "vocabs_ranked")):
        print(
            "ingest requires an index built with --format transcripts "
            f"(no vocabs_ranked stage under {args.index})",
            file=sys.stderr,
        )
        return 2
    spark = _spark(args)
    transcripts = spark.read.parquet(args.input)
    counters = dl.merge_delta(
        spark,
        args.index,
        transcripts,
        num_partitions=args.partitions,
        extend_vocab=not args.frozen_vocab,
        delta_id=args.input,
    )
    _refresh_exports(spark, args.index)
    print(json.dumps({"ingested": args.input, **counters}))
    return 0


def _refresh_exports(spark, index: str) -> None:
    """Refresh the contract locations after an ingest:
    <index>/stats (parquet) + stats.txt + reference-format vocab text."""
    from . import delta as dl
    from .operators import permutations as perm

    stats = spark.read.parquet(os.path.join(index, "perms", "stats"))
    stats.write.mode("overwrite").parquet(os.path.join(index, "stats"))
    perm.export_stats_text(stats, os.path.join(index, "stats.txt"))
    ranked = dl.read_vocab_ranked(spark, index)
    for role in ("s", "p", "o"):
        v = ranked.filter(ranked.role == role).select("term", "id", "cnt")
        perm.export_vocab_text(v, os.path.join(index, "vocabs", f"{role}_vocab"))


def cmd_stream_ingest(args) -> int:
    """Live ingest: drain (or follow) a transcript feed directory via
    Structured Streaming; each micro-batch lands as one delta generation
    (streaming/ingest_stream.stream_ingest)."""
    from .streaming.ingest_stream import stream_ingest

    if not os.path.isdir(os.path.join(args.index, "vocabs_ranked")):
        print(
            "stream-ingest requires an index built with --format transcripts "
            f"(no vocabs_ranked stage under {args.index})",
            file=sys.stderr,
        )
        return 2
    spark = _spark(args)
    q = stream_ingest(
        spark,
        args.feed,
        args.index,
        args.checkpoint,
        max_files=args.max_files,
        num_partitions=args.partitions,
        extend_vocab=not args.frozen_vocab,
        available_now=not args.follow,
    )
    q.awaitTermination(args.timeout if args.timeout > 0 else None)
    if q.isActive:
        q.stop()
    _refresh_exports(spark, args.index)
    applied_path = os.path.join(args.index, "stream_applied.json")
    applied = {}
    if os.path.exists(applied_path):
        with open(applied_path) as f:
            applied = json.load(f)
    print(json.dumps({"feed": args.feed, "batches_applied": len(applied)}))
    return 0


def cmd_compact(args) -> int:
    """Collapse appended delta generations into one sorted run."""
    from . import delta as dl

    spark = _spark(args)
    out = dl.compact(spark, args.index, num_partitions=args.partitions)
    print(json.dumps(out))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="python -m rdf_indexes_spark")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--master", default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="dataset -> 5 sorted permutations + stats + vocabs")
    b.add_argument("--input", required=True)
    b.add_argument("--format", default="nq", choices=["nt", "nq", "transcripts"])
    b.add_argument("--out", required=True)
    b.add_argument("--hash", action="store_true", help="hash ids instead of dense ranks (--hash mode)")
    b.add_argument(
        "--hash-fn",
        default="xxhash64",
        choices=["xxhash64", "mmh3"],
        help="hash-id flavor: xxhash64 = JVM scale path; mmh3 = byte-parity with the reference's --hash vocab files",
    )
    b.add_argument(
        "--variant",
        default="5p",
        choices=["5p", "3t", "2tp", "2to", "pef_r"],
        help="index variant: which permutations to materialize (reference index_3t/2tp/2to/pef_r_3t)",
    )
    b.add_argument("--partitions", type=int, default=None)
    b.set_defaults(fn=cmd_build)

    bp = sub.add_parser("build_permutation", help="re-sort an index into one permutation order")
    bp.add_argument("--input", required=True, help="index dir from `build`")
    bp.add_argument("--perm", required=True, choices=["spo", "pos", "osp", "ops", "pso"])
    bp.add_argument("--out", required=True)
    bp.add_argument("--partitions", type=int, default=None)
    bp.set_defaults(fn=cmd_build_permutation)

    q = sub.add_parser("queries", help="run a query workload against an index")
    q.add_argument("--index", required=True)
    q.add_argument(
        "--queries",
        default=None,
        help='file of "s p o" lines, -1 = wildcard; omit to SAMPLE -n triples from the index',
    )
    q.add_argument("-n", "--num-queries", type=int, default=None, help="first/sampled n triples (reference -n)")
    q.add_argument(
        "-w",
        "--num-wildcards",
        type=int,
        default=0,
        choices=[0, 1, 2],
        help="blank the trailing w components of --perm's order (reference -w)",
    )
    q.add_argument(
        "--perm",
        default="spo",
        choices=["spo", "pos", "osp", "ops", "pso"],
        help="permutation whose order -w stamps against (reference's perm argument)",
    )
    q.add_argument("--batched", action="store_true", help="set-oriented: the whole log as one broadcast join")
    q.set_defaults(fn=cmd_queries)

    ing = sub.add_parser("ingest", help="merge a delta transcript batch into an existing index")
    ing.add_argument("--index", required=True, help="index dir from `build --format transcripts`")
    ing.add_argument("--input", required=True, help="delta transcripts parquet")
    ing.add_argument(
        "--frozen-vocab",
        action="store_true",
        help="drop-and-log mentions with unknown terms instead of extending the dictionaries",
    )
    ing.add_argument("--partitions", type=int, default=None)
    ing.set_defaults(fn=cmd_ingest)

    cp = sub.add_parser("compact", help="collapse delta generations into one sorted run")
    cp.add_argument("--index", required=True)
    cp.add_argument("--partitions", type=int, default=None)
    cp.set_defaults(fn=cmd_compact)

    st = sub.add_parser(
        "stream-ingest",
        help="drain/follow a transcript feed dir via Structured Streaming "
        "(one delta generation per micro-batch, idempotent on replay)",
    )
    st.add_argument("--index", required=True, help="index dir from `build --format transcripts`")
    st.add_argument("--feed", required=True, help="feed directory of transcript parquet files")
    st.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    st.add_argument("--max-files", type=int, default=16, help="maxFilesPerTrigger")
    st.add_argument(
        "--follow",
        action="store_true",
        help="keep running for new files (default: drain whatever is present, then stop)",
    )
    st.add_argument("--timeout", type=int, default=0, help="awaitTermination seconds (0 = forever)")
    st.add_argument(
        "--frozen-vocab",
        action="store_true",
        help="drop-and-log mentions with unknown terms instead of extending the dictionaries",
    )
    st.add_argument("--partitions", type=int, default=None)
    st.set_defaults(fn=cmd_stream_ingest)

    sq = sub.add_parser(
        "sparql",
        help="string-level SPARQL subset (SELECT/ASK/CONSTRUCT; paths, "
        "aggregates, GROUP BY/HAVING, UNION/OPTIONAL/MINUS/VALUES, paging)",
    )
    sq.add_argument("--index", required=True, help="index dir from `build`")
    sq.add_argument(
        "--query",
        required=True,
        action="append",
        help="repeatable: one json result line per query, in order "
        "(amortizes session + index-open across a workload), "
        'e.g. \'SELECT ?x WHERE { ?x worksAt co1 }\'',
    )
    sq.add_argument("--max-print", type=int, default=100, help="max result rows to print")
    sq.set_defaults(fn=cmd_sparql)

    s = sub.add_parser("statistics", help="print the 7-count stats + per-permutation space")
    s.add_argument("--index", required=True)
    s.set_defaults(fn=cmd_statistics)

    p = sub.add_parser("profile", help="per-level scan/access/find microbench (json lines)")
    p.add_argument("--index", required=True)
    p.add_argument("-n", "--num-queries", type=int, default=1000)
    p.add_argument("--runs", type=int, default=3)
    p.set_defaults(fn=cmd_profile)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
