"""The benchmark of record: build an index from transcripts, then query it.

    python3 perfbench/run.py --workload build|query|all --seed N \
        --seconds S --trace 0|1 [--toy]

Runs in one process on ``local[<nproc>]`` through the public API. The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it records the session settings, input sizes and check results.
``--toy`` shrinks every input for the benchmark's own tests. See
README.md in this directory for the metrics, workloads and layers.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, replace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

NPROC = len(os.sched_getaffinity(0))
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "4g"
# the batched log and each SPARQL query are single jobs of about a second:
# medians over rounds are steadier than one reading; more rounds would
# push a run past the minute that about 50 runs of a comparison allow
ROUNDS = 3

# wildcard classes in the reference driver's stamping (perm, -w), run
# interleaved; names read S/P/O for a bound component, _ for a wildcard
CLASSES = {
    "spo": ("spo", 0),
    "sp_": ("spo", 1),
    "s__": ("spo", 2),
    "_po": ("pos", 1),
    "_p_": ("pos", 2),
    "__o": ("osp", 2),
    "s_o": ("osp", 1),
}


@dataclass(frozen=True)
class Spec:
    turns: int  # transcript turns of the index the workload times
    chunk_turns: int  # generator chunk; traced runs merge one more chunk
    points: int  # point queries per run, a multiple of 7 (one per class)
    index_in_setup: bool  # the index is built in set-up, not in the timed part


WORKLOADS = {
    # four generator chunks: one per core
    "build": Spec(turns=48_000, chunk_turns=12_000, points=35, index_in_setup=False),
    "query": Spec(turns=20_000, chunk_turns=5_000, points=49, index_in_setup=True),
}
TOY = {name: replace(s, turns=2_000, chunk_turns=1_000, points=14) for name, s in WORKLOADS.items()}
# the first patterns of the point log, batched
QUERYLOG_PATTERNS = 35

END_TO_END = {
    "setup_s": "s",
    "build_s": "s",
    "build_triples_per_s": "triples/s",
    "index_bytes_per_triple": "B/triple",
    "point_p50_ms": "ms",
    "point_tail_ms": "ms",
    "querylog_patterns_per_s": "patterns/s",
    "sparql_set_s": "s",
}

_COMMON = {"wall_s": "s", "task_s": "s", "gc_s": "s", "shuffle_write_mb": "MB", "jobs": "count"}
PER_LAYER = {
    "session": {"wall_s": "s", "peak_rss_mb": "MB"},
    "extract": {**_COMMON, "python_s": "s"},
    "link": {**_COMMON, "python_s": "s", "kept_per_scored": "ratio"},
    "canonicalize": {**_COMMON, "stages": "count"},
    "encode": _COMMON,
    "permutations": {**_COMMON, "spill_mb": "MB", "bytes_written_mb": "MB"},
    "checkpoint": {"wall_s": "s", "task_s": "s", "jobs": "count", "bytes_written_mb": "MB"},
    "pipeline": {"driver_s": "s", "jobs_total": "count", "traced_build_s": "s", "tracing_overhead_s": "s"},
    "delta": {
        **_COMMON,
        "merge_s": "s",
        "compact_s": "s",
        "stats_refresh_s": "s",
        "bytes_appended_mb": "MB",
        "generations": "count",
        "probe_p50_ms": "ms",
    },
    "router": {
        "wall_s": "s",
        "task_s": "s",
        "jobs": "count",
        "plan_ms": "ms",
        "exec_ms": "ms",
        "rows_read_per_returned": "ratio",
        **{f"p50_ms.{c}": "ms" for c in CLASSES},
    },
    "querylog": {"wall_s": "s", "task_s": "s", "jobs": "count", **{f"class_wall_s.{c}": "s" for c in CLASSES}},
    "sparql": {"wall_s": "s", "task_s": "s", "jobs": "count", "plan_ms": "ms", "exec_ms": "ms", "closure_s": "s"},
}


# layers whose walls, with pipeline.driver_s, make up the traced build
BUILD_LAYERS = ("extract", "link", "canonicalize", "encode", "permutations", "checkpoint")


def per_layer_units() -> dict[str, str]:
    return {f"{layer}.{m}": u for layer, ms in PER_LAYER.items() for m, u in ms.items()}


SPARQL = {
    "chain": "SELECT ?x ?z WHERE { ?x worksAt ?y . ?y locatedIn ?z }",
    "star": 'SELECT ?x ?y ?z WHERE { ?x manages ?y . OPTIONAL { ?x owns ?z } FILTER regex(?y, "^[A-M]") }',
    "group": "SELECT ?p (COUNT(?o) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?p",
    "topk": "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s uses ?o } GROUP BY ?s ORDER BY DESC(?n) LIMIT 10",
    # a fixed-length path: a `+` closure iterates until the graph's diameter,
    # which varies with the seed (traced runs time reportsTo+ on its own)
    "path": "SELECT ?b WHERE {{ {start} escalatedTo/escalatedTo/escalatedTo ?b }}",
}
CLOSURE = "SELECT ?b WHERE {{ {start} reportsTo+ ?b }}"


# --------------------------------------------------------------------------
# session and inputs
# --------------------------------------------------------------------------


def session_settings(run_dir: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return {
        "cores": NPROC,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_memory": DRIVER_MEMORY,
        "app_name": "perfbench",
        "extra_conf": conf,
    }


def start_session(settings: dict):
    from rdf_indexes_spark.session import get_spark

    spark = get_spark(**settings)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # ready: one job through the scheduler
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
        proc.wait(timeout=60)


def load_corpus(spark, spec: Spec, seed: int, run_dir: str, with_delta: bool):
    """(base transcripts, delta transcripts or None) for (size, seed), each
    written to Parquet first. The delta is the next chunk of the same
    generator stream with the base's entity pool: chunks are generated
    independently, so the base is the stream's first chunks row for row.
    Only traced runs merge a delta, and the base is generated alone either
    way, so traced and untraced builds read the same files."""
    from pyspark.sql import functions as F

    from rdf_indexes_spark.synth import generate_distributed

    def generated(turns: int, name: str):
        path = os.path.join(run_dir, name)
        generate_distributed(
            spark, turns, seed=seed, chunk_turns=spec.chunk_turns, n_entities=max(16, int(3 * math.sqrt(spec.turns)))
        ).write.parquet(path)
        return spark.read.parquet(path)

    base = generated(spec.turns, "corpus")
    if not with_delta:
        return base, None
    boundary = f"c{spec.turns // spec.chunk_turns:05d}"
    return base, generated(spec.turns + spec.chunk_turns, "stream").filter(F.col("conv_id") >= boundary)


# --------------------------------------------------------------------------
# tracing setup
# --------------------------------------------------------------------------


def install_tracer(spark):
    """Wrap every layer's public boundary; count link-scorer rows."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    import rdf_indexes_spark.delta as delta
    import rdf_indexes_spark.pipeline as pipeline
    import rdf_indexes_spark.plans.querylog as querylog
    import rdf_indexes_spark.plans.router as router
    import rdf_indexes_spark.plans.sparql as sparql
    from rdf_indexes_spark import checkpoint
    from rdf_indexes_spark.operators import canonicalize, encode, extract, link, permutations
    from layertrace import IDLE, Tracer

    tracer = Tracer(spark.sparkContext)
    tracer.wrap(extract, "extract_mentions", "extract")
    tracer.wrap(link, "candidate_edges", "link")
    for fn in ("connected_components", "canonical_map", "canonicalize_mentions"):
        tracer.wrap(canonicalize, fn, "canonicalize")
    for fn in ("build_vocabs_fused", "encode_mentions"):
        tracer.wrap(encode, fn, "encode")
    for fn in ("dedup_triples", "write_permutations_unified", "compute_stats"):
        tracer.wrap(permutations, fn, "permutations")
    tracer.wrap(checkpoint.StageStore, "run", "checkpoint", label=lambda a: a[1])
    tracer.wrap(pipeline, "run_pipeline", "pipeline")
    # the ingest path calls the pipeline's operators: they stay in `delta`
    for fn in ("merge_delta", "compact", "read_index"):
        tracer.wrap(delta, fn, "delta", absorbs=True)
    for fn in ("select", "is_member"):
        tracer.wrap(router, fn, "router")
    tracer.wrap(querylog, "run_querylog_batched", "querylog", absorbs=True)
    tracer.wrap(sparql, "run_sparql", "sparql", absorbs=True)

    # the scorer is a pandas UDF: a counting twin with the same body
    # measures candidates scored vs edges kept (the link waste ratio)
    sc = spark.sparkContext
    scored, kept = sc.accumulator(0), sc.accumulator(0)
    body, threshold = link.link_score.func, link.SCORE_THRESHOLD

    @F.pandas_udf(T.DoubleType())
    def counted_link_score(a, b, prior):
        out = body(a, b, prior)
        scored.add(len(out))
        kept.add(int((out >= threshold).sum()))
        return out

    tracer.patch(link, "link_score", counted_link_score)
    tracer.set_group(IDLE)
    return tracer, scored, kept


# --------------------------------------------------------------------------
# the workload
# --------------------------------------------------------------------------


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with >= 10 samples
    beyond it (the maximum when there are fewer than 11 samples)."""
    s = sorted(samples)
    i = len(s) - 11 if len(s) >= 11 else len(s) - 1
    return s[i], 100.0 * (i + 1) / len(s)


def _du(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return total


def _patterns(art, n: int, seed: int):
    from rdf_indexes_spark.plans.querylog import sample_querylog, stamp_wildcards

    triples = sample_querylog(art.triples, n=n, seed=seed)
    names = list(CLASSES)
    out = []
    for i, t in enumerate(triples):
        cls = names[i % len(names)]
        out.append((cls, stamp_wildcards(t, *CLASSES[cls])))
    return out


def _path_start(art, pred: str) -> str:
    """The subject with the most ``pred`` edges (ties: lowest id)."""
    from pyspark.sql import functions as F

    from rdf_indexes_spark.plans.router import select

    pid = art.vocab_p.filter(F.col("term") == pred).first()["id"]
    top = select(art.permutations, p=pid).groupBy("s").count().orderBy(F.desc("count"), "s").first()
    return art.vocab_s.filter(F.col("id") == top["s"]).first()["term"]


def run_workload(name: str, spec: Spec, seed: int, seconds: float, trace: bool, toy: bool = False) -> dict:
    """One run: the session (and for ``query`` the index) as set-up, then
    the build, point queries, batched log and SPARQL set. ``seconds`` is
    recorded only: every run does the same fixed work, so two commits
    time the same operations."""
    from checks import Tally, check_against_oracle, check_index

    import rdf_indexes_spark.pipeline as pipeline
    import rdf_indexes_spark.plans.querylog as querylog
    import rdf_indexes_spark.plans.router as router
    import rdf_indexes_spark.plans.sparql as sparql

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "eventlog"))
    settings = session_settings(run_dir, trace)
    t0 = time.monotonic()
    phases = {}  # seconds since start at the end of each phase

    def mark(phase: str) -> None:
        phases[phase] = time.monotonic() - t0

    spark = start_session(settings)
    session_s = time.monotonic() - t0
    tally = Tally()
    try:
        tracer = None
        if trace:
            tracer, scored, kept = install_tracer(spark)
        window = tracer.window if trace else (lambda name: nullcontext())
        base, delta_batch = load_corpus(spark, spec, seed, run_dir, with_delta=trace)
        corpus_pdf = base.toPandas()
        mark("corpus")

        # ---- build -----------------------------------------------------
        wd = os.path.join(run_dir, "index")
        t = time.monotonic()
        with window("build"):
            art = tally.run("build", pipeline.run_pipeline, spark, base, wd, input_id=f"{spec.turns}-{seed}")
        build_s = time.monotonic() - t
        if art is None:
            raise RuntimeError("run_pipeline failed: " + tally.failures[-1])
        setup_s = session_s + (build_s if spec.index_in_setup else 0.0)
        mark("build")
        built = {}  # what the build left, before the traced merge changes it
        if trace:
            built = {
                "link.kept_per_scored": kept.value / max(1, scored.value),
                "link_candidates_scored": scored.value,
                "checkpoint_stage_bytes": {
                    s.name: _du(os.path.join(wd, s.name)) for s in tracer.spans if s.layer == "checkpoint"
                },
                "perms_bytes": _du(os.path.join(wd, "perms")),
            }
        num_triples = check_index(tally, art.permutations, art.triples, art.stats, "build")
        check_against_oracle(tally, corpus_pdf, art)
        mark("oracle")
        perms_bytes = _du(os.path.join(wd, "perms", "perms5"))

        # ---- queries: one client, closed loop --------------------------
        log = _patterns(art, spec.points, seed)
        vocabs = {"s": art.vocab_s, "p": art.vocab_p, "o": art.vocab_o}
        queries = {**SPARQL, "path": SPARQL["path"].format(start=_path_start(art, "escalatedTo"))}
        mark("checks")
        point_ms: dict[str, list[float]] = {c: [] for c in CLASSES}
        point_counts: dict[int, int | None] = {}
        plan_ms, exec_ms = [], []
        batch = [q for _, q in log[:QUERYLOG_PATTERNS]]
        querylog_walls, querylog_counts = [], []
        sparql_walls: dict[str, list[float]] = {qname: [] for qname in queries}
        sparql_counts, sparql_plan_ms, sparql_exec_ms = {}, [], []

        def point(qid: int) -> None:
            cls, q = log[qid]
            t = time.monotonic()
            with window("point"):
                if cls == "spo":
                    n = tally.run("is_member", router.is_member, art.permutations, q.s, q.p, q.o)
                    n = None if n is None else int(n)
                else:
                    df = tally.run("select", router.select, art.permutations, s=q.s, p=q.p, o=q.o)
                    t_plan = time.monotonic()
                    n = tally.run("count", df.count) if df is not None else None
                    plan_ms.append((t_plan - t) * 1e3)
                    exec_ms.append((time.monotonic() - t_plan) * 1e3)
            point_ms[cls].append((time.monotonic() - t) * 1e3)
            point_counts[qid] = n
            tally.check("point.nonempty", bool(n), f"{cls} {q}")

        def batched_log() -> None:
            t = time.monotonic()
            with window("querylog"):
                rows = tally.run(
                    "querylog",
                    lambda: querylog.run_querylog_batched(art.permutations, batch).groupBy("qid").count().collect(),
                )
            querylog_walls.append(time.monotonic() - t)
            if rows is not None:
                querylog_counts.append({int(r["qid"]): int(r["count"]) for r in rows})

        def sparql_query(qname: str, text: str) -> None:
            with window("sparql"):
                t_plan = time.monotonic()
                df = tally.run(f"sparql.{qname}", sparql.run_sparql, text, art.permutations, vocabs)
                t_exec = time.monotonic()
                n = tally.run(f"sparql.{qname}.count", df.count) if df is not None else None
            sparql_plan_ms.append((t_exec - t_plan) * 1e3)
            sparql_exec_ms.append((time.monotonic() - t_exec) * 1e3)
            sparql_walls[qname].append(sparql_plan_ms[-1] + sparql_exec_ms[-1])
            tally.check(f"sparql.{qname}.repeatable", sparql_counts.setdefault(qname, n) == n, f"{n}")

        # each round runs a slice of the point log, the batched log once
        # and the SPARQL set once: a burst of load from a neighbour on a
        # shared host then lands on one round of each kind, not on every
        # reading of one kind, and the medians drop it
        for r in range(ROUNDS):
            for qid in range(len(log) * r // ROUNDS, len(log) * (r + 1) // ROUNDS):
                point(qid)
            batched_log()
            for qname, text in queries.items():
                sparql_query(qname, text)
        for batched in querylog_counts:
            same = all(batched.get(qid, 0) == point_counts[qid] for qid in range(len(batch)))
            tally.check("querylog.matches_router", same, f"{batched} vs {point_counts}")
        sparql_ms = {qname: _median(walls) for qname, walls in sparql_walls.items()}
        sparql_s = sum(sparql_ms.values()) / 1e3
        mark("queries")
        stats = art.stats.first()
        tally.check("sparql.group_rows", sparql_counts["group"] == stats["distinct_predicates"], str(sparql_counts))
        tally.check("sparql.path_nonempty", bool(sparql_counts["path"]), str(sparql_counts))

        all_points = [x for xs in point_ms.values() for x in xs]
        tail, tail_pct = _tail(all_points)
        metrics = {
            "setup_s": setup_s,
            "build_s": build_s,
            "build_triples_per_s": num_triples / build_s,
            "index_bytes_per_triple": perms_bytes / max(1, num_triples),
            "point_p50_ms": _median(all_points),
            "point_tail_ms": tail,
            "querylog_patterns_per_s": len(batch) / _median(querylog_walls),
            "sparql_set_s": sparql_s,
        }
        detail = {
            "workload": name,
            "seed": seed,
            "seconds": seconds,
            "nproc": NPROC,
            "session": settings,
            "turns": spec.turns,
            "num_triples": num_triples,
            "session_s": session_s,
            "point_samples": len(all_points),
            "point_tail_percentile": tail_pct,
            "sparql_counts": sparql_counts,
            "vocab_terms": stats["distinct_subjects"] + stats["distinct_predicates"] + stats["distinct_objects"],
            "toy": toy,
            "sparql_query_ms": sparql_ms,
            "phases_s": phases,
        }
        if trace:
            layer_metrics, probe_rows = traced_extras(spark, tracer, tally, art, wd, delta_batch, log, seed)
            detail["router_rows_returned"] = sum(n or 0 for n in point_counts.values()) + probe_rows
            detail["link_candidates_scored"] = built["link_candidates_scored"]
            detail["checkpoint_stage_bytes"] = built["checkpoint_stage_bytes"]
            layer_metrics.update(
                {
                    **{f"router.p50_ms.{c}": _median(point_ms[c]) for c in CLASSES},
                    "router.plan_ms": _median(plan_ms),
                    "router.exec_ms": _median(exec_ms),
                    "sparql.plan_ms": _median(sparql_plan_ms),
                    "sparql.exec_ms": _median(sparql_exec_ms),
                    "session.wall_s": session_s,
                    "session.peak_rss_mb": _peak_rss_mb(),
                    "link.kept_per_scored": built["link.kept_per_scored"],
                    "checkpoint.bytes_written_mb": sum(built["checkpoint_stage_bytes"].values()) / 1e6,
                    "permutations.bytes_written_mb": built["perms_bytes"] / 1e6,
                }
            )
            tracer.uninstall()
        detail["failures"] = tally.failures[:20]
    finally:
        stop_session(spark)
    if trace:
        metrics = reduce_trace(tracer, run_dir, name, spec, detail, layer_metrics)
    shutil.rmtree(run_dir, ignore_errors=True)
    return {"detail": detail, "tally": tally, "metrics": metrics}


def traced_extras(spark, tracer, tally, art, wd, delta_batch, log, seed):
    """Traced runs also time each class of the point log on its own, the
    ``reportsTo+`` closure, and the ingest path: one merge of the next
    generator chunk, point probes across the appended generation, then
    compaction. Returns the metrics and the rows the probes returned."""
    from checks import check_index
    from pyspark.sql import functions as F

    import rdf_indexes_spark.delta as delta
    from rdf_indexes_spark.operators import permutations
    from rdf_indexes_spark.plans.querylog import run_querylog_batched
    from rdf_indexes_spark.plans.router import select
    from rdf_indexes_spark.plans.sparql import run_sparql

    m: dict[str, float] = {}
    vocabs = {"s": art.vocab_s, "p": art.vocab_p, "o": art.vocab_o}
    closure = CLOSURE.format(start=_path_start(art, "reportsTo"))
    t = time.monotonic()
    with tracer.window("sparql.closure"):
        n = tally.run("sparql.closure", lambda: run_sparql(closure, art.permutations, vocabs).count())
    m["sparql.closure_s"] = time.monotonic() - t
    tally.check("sparql.closure_nonempty", bool(n), closure)
    for c in CLASSES:
        pats = [q for cls, q in log if cls == c]
        t = time.monotonic()
        with tracer.window(f"querylog.{c}"):
            tally.run("querylog.class", lambda: run_querylog_batched(art.permutations, pats).groupBy("qid").count().collect())
        m[f"querylog.class_wall_s.{c}"] = time.monotonic() - t

    # the stats refresh: from the merge's compute_stats call to its return
    stats_calls = []
    inner_stats = permutations.compute_stats

    def timed_stats(*args, **kwargs):
        stats_calls.append(time.monotonic())
        return inner_stats(*args, **kwargs)

    tracer.patch(permutations, "compute_stats", timed_stats)
    base_vocab = spark.read.parquet(os.path.join(wd, "vocabs_ranked")).select("role", "term", "id")
    perms_dir = os.path.join(wd, "perms", "perms5")
    before = _du(perms_dir)
    t = time.monotonic()
    with tracer.window("merge"):
        counters = tally.run("merge_delta", delta.merge_delta, spark, wd, delta_batch, delta_id=f"{seed}")
    t_end = time.monotonic()
    m["delta.merge_s"] = t_end - t
    m["delta.stats_refresh_s"] = t_end - stats_calls[-1] if stats_calls else 0.0
    m["delta.bytes_appended_mb"] = (_du(perms_dir) - before) / 1e6
    m["delta.generations"] = 1 + len(os.listdir(os.path.join(wd, "deltas")))
    if counters is not None:
        merged = delta.read_vocab_ranked(spark, wd).select("role", "term", F.col("id").alias("id2"))
        kept_ids = base_vocab.join(merged, ["role", "term"]).filter(F.col("id") == F.col("id2")).count()
        tally.check("merge.ids_stable", kept_ids == base_vocab.count(), f"{kept_ids} ids kept")
        distinct = delta.read_triples(spark, wd).distinct().count()
        tally.check("merge.total_triples", counters["total_triples"] == distinct, f"{counters} vs {distinct}")

    _, _, tables = delta.read_index(spark, wd)
    probe_ms, probe_rows = [], 0
    for cls, q in log[: 2 * len(CLASSES)]:
        t = time.monotonic()
        with tracer.window("probe"):
            n = tally.run("probe", lambda: select(tables, s=q.s, p=q.p, o=q.o).count())
        probe_ms.append((time.monotonic() - t) * 1e3)
        probe_rows += n or 0
        tally.check("probe.nonempty", bool(n), f"{cls} {q}")
    m["delta.probe_p50_ms"] = _median(probe_ms)

    t = time.monotonic()
    with tracer.window("compact"):
        tally.run("compact", delta.compact, spark, wd)
    m["delta.compact_s"] = time.monotonic() - t
    _, triples, tables = delta.read_index(spark, wd)
    check_index(tally, tables, triples, spark.read.parquet(os.path.join(wd, "perms", "stats")), "compact")
    return m, probe_rows


def _peak_rss_mb() -> float:
    """Sum of per-process peak RSS (VmHWM) over this process, the gateway
    JVM and the JVM's children (Python workers): an upper bound on the
    process tree's peak."""
    from pyspark import SparkContext

    jvm = getattr(SparkContext._gateway, "proc", None)
    pids = [os.getpid()] + ([jvm.pid] if jvm else [])
    children = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    children.setdefault(int(f.read().rsplit(")", 1)[1].split()[1]), []).append(int(entry))
            except OSError:
                continue
    i = 1
    while i < len(pids):  # descendants of the JVM
        pids += children.get(pids[i], [])
        i += 1
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM")), 0)
        except OSError:
            continue
    return total_kb / 1024


def reduce_trace(tracer, run_dir, name, spec, detail, measured: dict) -> dict:
    """Every per-layer metric: ``measured`` plus what the spans and the
    event log give. The build layers' walls are their shares of the build
    window; the other layers' walls are their shares of the other windows."""
    from eventlog import read_event_log
    from layertrace import attribute

    log = read_event_log(os.path.join(run_dir, "eventlog"))
    builds = [w for w in tracer.windows if w[0] == "build"]
    in_build = attribute(builds, tracer.spans, log.jobs, tracer.group_changes)
    elsewhere = attribute([w for w in tracer.windows if w[0] != "build"], tracer.spans, log.jobs, tracer.group_changes)
    detail["build_layer_wall_s"] = in_build
    detail["other_layer_wall_s"] = elsewhere
    m = dict(measured)
    for layer, names in PER_LAYER.items():
        g = log.groups.get(layer)
        for metric in names:
            key = f"{layer}.{metric}"
            if key in m:
                continue
            if metric == "wall_s":
                m[key] = (in_build if layer in BUILD_LAYERS else elsewhere).get(layer, 0.0)
            elif g is not None and metric in ("task_s", "gc_s", "shuffle_write_mb", "spill_mb", "jobs", "stages"):
                m[key] = getattr(g, metric)
            elif g is not None and metric == "python_s":
                m[key] = g.python_s
    router = log.groups.get("router")
    returned = detail["router_rows_returned"]
    m["router.rows_read_per_returned"] = router.input_rows / max(1, returned) if router else 0.0

    (_, b0, b1), = builds
    # the rest of the build: run_pipeline's own driver time and any gap
    # before its wrapper set the first group
    m["pipeline.driver_s"] = sum(v for k, v in in_build.items() if k not in BUILD_LAYERS)
    m["pipeline.jobs_total"] = sum(1 for j in log.jobs if b0 <= j.start_s < b1)
    m["pipeline.traced_build_s"] = b1 - b0
    untraced = untraced_build_s(name, spec)
    # with no untraced run of this code to compare against, the overhead
    # reads 0 and the detail line says so (untraced_build_s: null)
    m["pipeline.tracing_overhead_s"] = b1 - b0 - untraced if untraced else 0.0
    detail["untraced_build_s"] = untraced
    return {k: m.get(k, 0.0) for k in per_layer_units()}


# --------------------------------------------------------------------------
# tracing overhead: untraced builds of the same code
# --------------------------------------------------------------------------


def source_key() -> str:
    """A hash of the package's sources: the code a build_s belongs to."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "rdf_indexes_spark")
    for dirpath, dirs, names in os.walk(pkg):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                path = os.path.join(dirpath, n)
                h.update(os.path.relpath(path, pkg).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _results_path(name: str, spec: Spec) -> str:
    return os.path.join(WORK, "results", f"{name}-{spec.turns}-{source_key()}.jsonl")


def record_untraced(name: str, spec: Spec, seed: int, build_s: float) -> None:
    path = _results_path(name, spec)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps({"seed": seed, "build_s": build_s}) + "\n")


def untraced_build_s(name: str, spec: Spec) -> float | None:
    """Median build_s of the untraced runs of this workload on this code
    in this checkout; None if there are none."""
    path = _results_path(name, spec)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        walls = [json.loads(line)["build_s"] for line in f if line.strip()]
    return statistics.median(walls) if walls else None


# --------------------------------------------------------------------------
# command line
# --------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--toy", action="store_true", help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    if args.workload == "all":
        return run_all(args)

    sys.path.insert(0, ROOT)
    try:
        import rdf_indexes_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test from {ROOT}: {e}", file=sys.stderr)
        return 2
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # Python workers import the package; every temp file stays in the checkout
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")

    spec = (TOY if args.toy else WORKLOADS)[args.workload]
    out = run_workload(args.workload, spec, args.seed, args.seconds, bool(args.trace), args.toy)
    tally, metrics = out["tally"], out["metrics"]
    units = per_layer_units() if args.trace else END_TO_END
    if not args.trace and tally.failed == 0:
        record_untraced(args.workload, spec, args.seed, metrics["build_s"])
    print(json.dumps({"detail": out["detail"]}))
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


def run_all(args) -> int:
    """Each workload in its own process; prints each result, then one
    combined line with metrics prefixed by the workload name."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)] + (["--toy"] if args.toy else [])
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench: workload {name} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        print("\n".join(lines))
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        combined["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(combined))
    return 0


if __name__ == "__main__":
    sys.exit(main())
