#!/usr/bin/env python3
"""Benchmark harness.

Headline metric (BASELINE.json): triples/sec end-to-end
(extract→link→canonicalize→materialize) over a deterministic synthetic
transcript corpus, measured at two CLUSTER sizes on the same input —
local-cluster[8,4,8192] (8 executor JVMs × 4 cores = 32 cores) vs
local-cluster[2,4,8192] (2 executors = 8 cores) — the in-sandbox
stand-in for the N vs 4N executor-cluster rule (separate executor
heaps, GC, python-worker pools, and serialized shuffle, unlike
single-JVM local[N]).

scaling efficiency = median over trials of the WINDOW-MATCHED pair
ratio (thr_32 / thr_8) / (32 / 8) — each trial's two levels run
back-to-back inside one probed co-tenancy window, so the ratio controls
for the neighbor; the cross-window ratio-of-minima is also reported
(efficiency_min_ratio) but one lucky low-level window biases it
downward on this host

Methodology (mirrors the reference's repeat-and-discard harness,
/root/reference/src/queries.cpp:10-17): each level runs in its own
subprocess (fresh JVMs), does a JIT warm-up pass over a small corpus,
then times the real corpus; levels are interleaved for 3 trials and the
MIN per level is reported (this host's vCPU capacity varies ~2x with
co-tenancy — the harness also records a raw CPU-capacity probe so the
environment is visible in the result).

Corpus: sf × 80M turns (sf0.1 → 8M; override SPARK_GRAFT_BENCH_TURNS),
generated distributed once and cached under /tmp keyed by (n, seed) —
sized so the DEFAULT run always fits the driver's time budget (bigger
corpora raise measured efficiency further; see BENCH/BASELINE.md for
the corpus-size → efficiency curve and its extrapolation). The run
self-budgets against SPARK_GRAFT_BENCH_BUDGET_S and re-prints the
artifact line after every completed stage — the LAST line is always the
most complete parseable artifact, even under an external timeout.

Prints the artifact as ONE JSON line (re-printed incrementally):
  {"metric": "pipeline_e2e", "value": <sec at 32 cores>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "triples_per_sec": ...,
   "scaling": {...}, "cpu_probe": {...}}
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
EXEC_CORES = 4
N_EXEC_HI = max(2, CPUS // EXEC_CORES)          # 32 cores -> 8 executors
N_EXEC_LO = max(1, N_EXEC_HI // 4)              # 4x fewer executors
SHUFFLE_PARTITIONS = CPUS                        # FIXED across levels: sized
# by data volume, not cluster size (the scale-correct rule) — and it keeps
# per-task overhead identical at both levels.
# trials: each is one window-matched (hi, lo) pair; the headline
# efficiency is the median of the pair ratios (outlier-robust in both
# directions), throughputs report the min-of-trials per level.
TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
# 3 trials: a clean-host default run measures ~14.5 min against the
# 1500s budget with 2 trials, leaving room for a third pair (~400s) —
# and the accepted-window median over 3 pairs tolerates one crushed
# co-tenancy window, which 2 pairs cannot; the shed logic still drops
# back to 2 (or 1) pairs automatically when the host is slow.
# Hard wall-clock self-budget: the round-3 driver bench timed out (rc=124)
# with an EMPTY artifact because the default run (16M turns x 4 trials x
# ~58 queries + an 8M/16M/32M curve) outgrew the driver's budget. The
# bench now (a) defaults to a configuration that fits comfortably
# (8M turns, 3 trials ≈ 15.5 min clean-host, headline queries, no
# curve), (b) tracks a deadline and sheds optional work (later trials,
# 2nd query pass, curve) when behind, and (c) prints a parseable
# full-schema JSON line after EVERY completed stage, so even a hard
# kill leaves the best artifact so far as the last line of output; the
# final line's "shed" field records anything the deadline dropped.
BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "1500"))
_T_START = time.monotonic()


def _remaining() -> float:
    return BUDGET_S - (time.monotonic() - _T_START)


# ~26 headline queries (the round-2 artifact set plus SPARQL/KG
# representatives). The full ~58-query table is opt-in: it belongs to
# the builder-side BENCH/BASELINE.md runs, not the driver's budget.
HEADLINE_QUERIES = [
    "b1_term_freq",
    "b2_dense_ids",
    "b4_dict_encode",
    "c1_sort_permutation",
    "d1_stats",
    "d3_skew_census",
    "e1_broadcast_join",
    "e4_p_index",
    "f1_member",
    "f2_pattern_sp",
    "f5_pattern_p",
    "f8_scan_all",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "text_token_count",
    "text_language_id",
    "text_quality",
    "text_fingerprint",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "g3_sparql_chain",
    "g12_sparql_group_count",
    "kg_fuse_facts",
    "kg_rhodf_entailment",
    # -- round-5 rotation: never-benched family representatives (graph /
    # temporal / sampling). The 26 keys above stay pinned as the
    # comparable core across rounds; these extend, never replace.
    "kg_triangles",
    "asof_join_events",
    "sample_stratified",
]

FULL_QUERIES = [
    "b1_term_freq",
    "b2_dense_ids",
    "b4_dict_encode",
    "c1_sort_permutation",
    "d1_stats",
    "d3_skew_census",
    "e1_broadcast_join",
    "e4_p_index",
    "f1_member",
    "f2_pattern_sp",
    "f5_pattern_p",
    "f8_scan_all",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_span",
    "dedup_embedding_cosine",
    "semantic_dedup",
    "text_token_count",
    "text_language_id",
    "text_quality",
    "text_fingerprint",
    "text_unigram_rarity",
    "text_bigram_pmi",
    "text_lm_surprisal",
    "text_vote_classifier",
    "corpus_source_overlap",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "e5_rank_remap",
    "a7_querylog_batched",
    "g1_bgp_chain",
    "g3_sparql_chain",
    "g9_sparql_path_seq",
    "g12_sparql_group_count",
    "decontaminate",
    "kg_pagerank",
    "kg_triangles",
    "kg_cooccurrence",
    "kg_predicate_profile",
    "c4_filter",
    "fim_transform",
    "render_chat",
    "dedup_conversations",
    "kg_fuse_facts",
    "asof_join_events",
    "time_rollup_events",
    "kg_rhodf_entailment",
    "kg_sameas_smush",
    "kg_bfs_distances",
    "kg_property_table",
    "kg_domain_range",
    "kg_link_prediction",
    "retention_cohorts_events",
    "funnel_events",
    "sample_stratified",
    "hybrid_search_rrf",
    # kg_random_walks stays OUT too: 13 chained tiny joins measure driver
    # dispatch latency at sf0.1, not the engine (correctness gates at both
    # SFs; the per-step join is the scalable surface).
    # g4_path_closure stays OUT of the bench set: on this table's random
    # quasi-bipartite edge graph the closure ANSWER is ~|V|^2 — timing it
    # measures output size, not the engine. Correctness gates at sf0.01.
]

BENCH_QUERIES = (
    FULL_QUERIES
    if os.environ.get("SPARK_GRAFT_BENCH_FULL_QUERIES", "0") == "1"
    else HEADLINE_QUERIES
)


def _sf_of(sf_dir: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def _corpus_path(n_turns: int, seed: int = 42) -> str:
    """Synthesize (once, cached) the transcript corpus parquet, distributed."""
    path = f"/tmp/bench_transcripts_n{n_turns}_s{seed}"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from rdf_indexes_spark.session import get_spark
    from rdf_indexes_spark.synth import generate_distributed

    spark = get_spark(cores=CPUS, shuffle_partitions=CPUS, app_name="bench_gen")
    generate_distributed(spark, n_turns, seed=seed).write.mode("overwrite").parquet(path)
    spark.stop()
    return path


def _warm_corpus() -> str:
    path = "/tmp/bench_transcripts_warm5k"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from rdf_indexes_spark.session import get_spark
        from rdf_indexes_spark.synth import generate_distributed

        spark = get_spark(cores=8, shuffle_partitions=8, app_name="bench_warm_gen")
        generate_distributed(spark, 5000, seed=9).write.mode("overwrite").parquet(path)
        spark.stop()
    return path


def _scratch_dir() -> str:
    import tempfile

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix="bench_perms_", dir=base)


def _stage_walls(evdir: str, t_after_ms: float) -> dict[str, int]:
    """Reduce a Spark event log to {stage name: summed wall ms} for stages
    submitted after t_after_ms (filters the warm-up run out). Stage names
    carry the code callsite, so they match 1:1 between the hi and lo
    levels of the same pipeline — the per-stage shrink table in the
    artifact is built by joining these maps by name."""
    walls: dict[str, int] = {}
    for dirpath, _, fns in os.walk(evdir):
        for fn in fns:
            if fn.startswith("appstatus"):
                continue
            with open(os.path.join(dirpath, fn)) as f:
                for line in f:
                    if '"SparkListenerStageCompleted"' not in line:
                        continue
                    try:
                        si = json.loads(line)["Stage Info"]
                    except (json.JSONDecodeError, KeyError):
                        continue
                    sub, com = si.get("Submission Time"), si.get("Completion Time")
                    if not sub or not com or sub < t_after_ms:
                        continue
                    name = si.get("Stage Name", "")[:80]
                    walls[name] = walls.get(name, 0) + (com - sub)
    return walls


def _worker(n_exec: int, corpus_path: str, warm_path: str, out_json: str) -> None:
    """Subprocess body: warm-up run then timed run at n_exec executors."""
    # Confine the WHOLE level (driver JVM + executor JVMs + python workers,
    # which all inherit the affinity mask) to its nominal core budget. A
    # real N-executor cluster has N x EXEC_CORES vCPUs TOTAL — python UDF
    # workers compete INSIDE that budget, they don't get extra silicon.
    # Unpinned, the lo level's pandas-UDF stages ran python workers BESIDE
    # its 8 task slots (~14-16 host vCPUs observed for the "8-core"
    # cluster), understating hi/lo scaling efficiency by construction.
    try:
        os.sched_setaffinity(0, set(range(n_exec * EXEC_CORES)))
    except (AttributeError, OSError):
        pass  # non-Linux / restricted: run unpinned, as before
    repo = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, repo)
    # local-cluster executors launch their OWN python workers — they need
    # the repo on PYTHONPATH to unpickle the pandas UDFs (in plain local
    # mode workers inherit the driver process' sys.path side effects).
    os.environ["PYTHONPATH"] = repo + os.pathsep + os.environ.get("PYTHONPATH", "")
    import shutil

    from rdf_indexes_spark.pipeline import run_pipeline
    from rdf_indexes_spark.session import get_spark
    from rdf_indexes_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    import tempfile

    evdir = tempfile.mkdtemp(prefix=f"bench_ev_{n_exec}_")
    spark = get_spark(
        cores=n_exec * EXEC_CORES,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        master=f"local-cluster[{n_exec},{EXEC_CORES},8192]",
        app_name=f"bench{n_exec}x{EXEC_CORES}",
        # in cluster mode the driver only plans/collects tiny results — a
        # big driver heap here just competes with 8 executor JVMs + python
        # workers + tmpfs shuffle for the host's RAM
        driver_memory="6g",
        # pre-touch the driver heap too (executors get it from get_spark's
        # local-cluster branch): concurrent first-touch faults serialize
        # in the hypervisor — see session.py. ~1s at 6g, untimed.
        extra_conf={
            "spark.driver.extraJavaOptions": "-Xms6g -XX:+AlwaysPreTouch",
            # event log feeds the artifact's per-stage shrink table
            # (driver-side JSON append, negligible next to the work)
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    # warm-up must SATURATE every executor core: python workers fork (and
    # cold-import pandas/numpy) on first concurrent demand, and 32
    # simultaneous cold imports inside the timed run hit the same
    # hypervisor first-touch collapse the heap pre-touch avoids (profiled:
    # 968s of non-CPU wait in the extraction stage when the warm corpus
    # ran too few tasks to fork all workers). 2 waves x all cores forks
    # the full worker pool while the work is still 5k turns.
    warm = (
        spark.read.schema(TRANSCRIPT_SCHEMA)
        .parquet(warm_path)
        .repartition(n_exec * EXEC_CORES * 2)
    )
    wdir = _scratch_dir()
    run_pipeline(spark, warm, wdir, num_partitions=SHUFFLE_PARTITIONS, input_id="warm")
    shutil.rmtree(wdir, ignore_errors=True)

    tr = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(corpus_path)
    tr.count()  # file listing + first scan outside the timed window
    out_dir = _scratch_dir()
    t_epoch_ms = time.time() * 1000  # event-log filter: timed run only
    t0 = time.monotonic()
    art = run_pipeline(spark, tr, out_dir, num_partitions=SHUFFLE_PARTITIONS, input_id="timed")
    elapsed = time.monotonic() - t0
    counters = {k: art.counters[k]["rows"] for k in ("mentions", "triples")}
    spark.stop()
    time.sleep(0.5)  # let the event log flush
    try:
        stages = _stage_walls(evdir, t_epoch_ms)
    except Exception:  # the shrink table is evidence, never a failure
        stages = {}
    with open(out_json, "w") as f:
        json.dump(
            {"n_exec": n_exec, "elapsed_sec": elapsed, "stages": stages, **counters}, f
        )
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(evdir, ignore_errors=True)


def _run_level(n_exec: int, corpus_path: str, warm_path: str) -> dict:
    # pid-suffixed: two bench processes on one host (e.g. a driver run
    # beside a manual rerun) must not clobber each other's worker results
    out = f"/tmp/bench_worker_{os.getpid()}_{n_exec}.json"
    if os.path.exists(out):
        os.remove(out)
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker", str(n_exec), corpus_path, warm_path, out],
        check=True,
        cwd=os.path.dirname(os.path.abspath(__file__)),
        capture_output=True,
    )
    with open(out) as f:
        return json.load(f)


ACCEPT_CEILING = float(os.environ.get("SPARK_GRAFT_BENCH_MIN_CEILING", "0.70"))
# shared retry budget: a 10s pre-gate wait costs 1 unit, a mid-pair redo
# costs 3 (it threw away a level run). 12 units ≈ ≤2.5 min of waits or
# ≤4 pair redos — far cheaper than one crushed 32M pair in the median
MAX_REPROBES = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_REPROBES", "12"))


def _quick_membw_ceiling() -> float:
    """Fast (≈2s) same-window co-tenancy probe: the membw scaling ceiling
    between the two core counts. Trials are ACCEPTED only when this is
    above ACCEPT_CEILING — the host's vCPUs are co-tenant and a trial
    landing in a stolen-capacity minute measures the neighbor, not the
    engine (observed 2x+ bimodality on identical runs)."""
    import multiprocessing as mp

    lo_n, hi_n = N_EXEC_LO * EXEC_CORES, N_EXEC_HI * EXEC_CORES
    out = {}
    for n in (lo_n, hi_n):
        with mp.Pool(n) as p:
            out[n] = sum(p.map(_burn_mem_quick, range(n)))
    return round((out[hi_n] / max(1, out[lo_n])) / (hi_n / lo_n), 3)


def _in_band(ceiling: float) -> bool:
    # >1 is as dirty as <0.7: capacity cannot scale superlinearly, so a
    # ceiling above 1 means the LO probe itself ran in a crushed window
    # (a 1.23-window pair measured 0.12 pair-efficiency in round 3 —
    # pure waste; 1.15 leaves headroom for probe jitter only)
    return ACCEPT_CEILING <= ceiling <= 1.15


def _gated_pair(corpus_path: str, warm_path: str, reprobe_budget: list[int]) -> dict:
    """One (hi, lo) trial pair, accepted only in a clean co-tenancy window.

    The window is probed THREE times — before the pair, between the two
    levels, and after — because a pre-gate alone is blind to a neighbor
    arriving mid-pair (a full artifact run recorded a 0.295 pair whose
    hi level took 2x its same-run best inside an 0.81-pre-gated window).
    The probes are blind to the measured times, so this cannot cherry-
    pick minima: a window that degrades during EITHER level voids the
    pair, whichever direction it would have biased (a crushed hi
    deflates the ratio, a crushed lo inflates it). The pair's recorded
    window_ceiling is the MIN of the three probes, so the headline's
    accepted-window filter composes with this automatically.

    reprobe_budget is a 1-item mutable counter shared across the whole
    run (bounded retries); a 10s pre-gate wait costs 1 unit, a mid-pair
    redo (which threw away a full level run) costs 3. When exhausted,
    the pair stands regardless and its probe values are recorded so the
    artifact shows the conditions."""
    while True:
        pre = _quick_membw_ceiling()
        # a reprobe/redo is worth its cost only while the wall-clock
        # budget has room for it — each redo throws away a 2-4 min level
        # run, so redos stop at 40% budget burn (a fully co-loaded host
        # otherwise eats the whole budget in redos and sheds the query
        # table); behind that line the pair stands whatever the window
        # (its probes ship in the artifact so the reader sees the
        # conditions)
        def _can_retry():
            return reprobe_budget[0] > 0 and _remaining() > 0.6 * BUDGET_S
        if _in_band(pre) or not _can_retry():
            hi = _run_level(N_EXEC_HI, corpus_path, warm_path)
            mid = _quick_membw_ceiling()
            if not _in_band(mid) and _can_retry():
                reprobe_budget[0] -= 3  # discard the hi run, redo the pair
                continue
            lo = _run_level(N_EXEC_LO, corpus_path, warm_path)
            post = _quick_membw_ceiling()
            if not _in_band(post) and _can_retry():
                reprobe_budget[0] -= 3  # discard both runs, redo the pair
                continue
            return {
                "hi": hi,
                "lo": lo,
                "window_ceiling": min(pre, mid, post),
                "window_probes": [pre, mid, post],
            }
        reprobe_budget[0] -= 1
        time.sleep(10)  # wait out the noisy window


def _cpu_probe() -> dict:
    """Raw capacity probe: this host's vCPUs are co-tenant AND share a
    memory bus; record what the hardware could deliver at measurement
    time, for BOTH resource classes:
      - alu ceiling: pure-python busy loops (tiny working set) — the
        scheduler/SMT/steal component;
      - membw ceiling: numpy streaming over a 128 MB array (far beyond
        LLC) — the shared-memory-bandwidth component, which a shuffle-
        and scan-heavy Spark pipeline resembles much more closely.
    Per-stage event-log profiling showed total task
    time inflating ~2.4x from 8 to 32 active threads while the alu probe
    predicts only ~1.4x — the membw probe captures the difference."""
    import multiprocessing as mp

    # REPEATED, best-of probes: a single 1.5s sample can land in a stolen
    # minute (observed: membw_lo collapsing 3x between runs) and poison the
    # ceiling in BOTH directions. Best-case capacity per (class, width) is
    # the stable hardware property; ceilings are clamped to 1.0 because
    # capacity cannot scale superlinearly — above 1 is measurement noise.
    out: dict[str, dict[str, int]] = {"alu": {}, "membw": {}}
    for _ in range(3):
        for n in (N_EXEC_LO * EXEC_CORES, N_EXEC_HI * EXEC_CORES):
            with mp.Pool(n) as p:
                alu = sum(p.map(_burn, range(n)))
            with mp.Pool(n) as p:
                mem = sum(p.map(_burn_mem, range(n)))
            out["alu"][str(n)] = max(out["alu"].get(str(n), 0), alu)
            out["membw"][str(n)] = max(out["membw"].get(str(n), 0), mem)
    ratio = N_EXEC_HI / N_EXEC_LO
    lo_c, hi_c = (str(N_EXEC_LO * EXEC_CORES), str(N_EXEC_HI * EXEC_CORES))
    return {
        "iters_lo": out["alu"][lo_c],
        "iters_hi": out["alu"][hi_c],
        "raw_scaling_ceiling": round(
            min(1.0, (out["alu"][hi_c] / out["alu"][lo_c]) / ratio), 3
        ),
        "membw_lo": out["membw"][lo_c],
        "membw_hi": out["membw"][hi_c],
        "membw_scaling_ceiling": round(
            min(1.0, (out["membw"][hi_c] / max(1, out["membw"][lo_c])) / ratio), 3
        ),
    }


def _burn(_):
    t0 = time.time()
    x = 0
    while time.time() - t0 < 1.5:
        x += 1
    return x


def _burn_mem(_, duration: float = 1.5):
    import numpy as np

    a = np.arange(16_000_000, dtype=np.int64)  # 128 MB, streams past LLC
    t0 = time.time()
    it = 0
    while time.time() - t0 < duration:
        np.multiply(a, 31, out=a)
        np.add(a, 7, out=a)
        it += 1
    return it


def _burn_mem_quick(i):
    return _burn_mem(i, duration=0.6)


def _time_queries(sf_dir: str) -> tuple[dict[str, float], dict[str, str], dict]:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry_mod
    from rdf_indexes_spark.session import get_spark

    def fresh_session():
        return get_spark(
            cores=CPUS, shuffle_partitions=max(CPUS, 8), app_name="bench_queries"
        )

    if _remaining() < 90:
        # over budget before the stage starts: a fresh session + warm-ups
        # cost ~30-60s and can no longer improve the artifact
        return (
            {},
            {"_stage": "skipped: wall-clock budget exhausted"},
            {"passes_planned": 2, "passes_run": 0, "deadline_cut": True},
        )
    spark = fresh_session()
    qs = entry_mod.queries()
    out: dict[str, float] = {}
    errors: dict[str, str] = {}
    # session warm-up OUTSIDE the timed loop: JIT, codegen, Arrow/python
    # worker spin-up used to be billed to whichever query ran first
    # (b1_term_freq showed 6.1s for a 600k-row groupBy). A groupBy + a
    # pandas-UDF query touch both engines' cold paths. Guarded: a
    # failing warm-up query must degrade to cold-start timings, not kill
    # the whole query stage (the per-query loop records failures).
    for warm_name in ("b1_term_freq", "dedup_simhash"):
        try:
            qs[warm_name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            errors[f"_warmup_{warm_name}"] = str(e)[:200]
    # two full passes, min per query: co-tenant minutes inflate a single
    # pass 5-10x; the min is the engine, the spread is the neighbor.
    # A failing query is recorded, never fatal: one bad plan (or a dead
    # JVM it leaves behind) must not cost the whole bench artifact.
    # Deadline-aware: a partial first-pass table (or a single pass) beats
    # blowing the budget — each completed query's time is already final.
    # meta records what the DEADLINE dropped (distinct from query_errors,
    # which records queries that FAILED): passes_run < passes_planned or
    # deadline_cut means timings are single-pass / truncated.
    meta = {"passes_planned": 2, "passes_run": 0, "deadline_cut": False}
    for pass_i in range(2):
        if pass_i > 0 and _remaining() < 120:
            meta["deadline_cut"] = True
            break
        pass_complete = True
        for name in BENCH_QUERIES:
            if _remaining() < 45:
                meta["deadline_cut"] = True
                pass_complete = False
                break
            try:
                t0 = time.monotonic()
                df = qs[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                el = round(time.monotonic() - t0, 3)
                out[name] = min(out.get(name, el), el)
            except Exception as e:  # noqa: BLE001 — record and continue
                errors[name] = str(e)[:200]
                try:
                    spark.range(1).count()  # is the JVM still alive?
                except Exception:
                    try:
                        spark.stop()
                    except Exception:
                        pass
                    spark = fresh_session()
        if pass_complete:
            # counted explicitly at the end of each FULL pass — inferring
            # from deadline_cut mislabels a cut that lands mid-pass-2
            # (some queries already carry two-pass mins) or early in
            # pass 1 (most queries untimed)
            meta["passes_run"] += 1
    spark.stop()
    return out, errors, meta


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        _worker(int(sys.argv[2]), sys.argv[3], sys.argv[4], sys.argv[5])
        return
    sf = _sf_of(SF_DIR)
    # sf x 80M turns (sf0.1 -> 8M): bigger corpora sit higher on the
    # efficiency curve (the ~14s serial floor amortizes: round-3 curve
    # 0.62 @8M -> 0.52 @16M -> 0.68 @32M, builder artifacts), but the
    # 16M default grew the round-3 driver bench past its budget (rc=124,
    # empty artifact). 8M keeps a window-matched pair ~2-3 min so the
    # default run ALWAYS completes; the 16M/32M curve points are opt-in
    # (SPARK_GRAFT_BENCH_CURVE=1 / SPARK_GRAFT_BENCH_TURNS) and live in
    # BENCH/BASELINE.md.
    n_turns = int(os.environ.get("SPARK_GRAFT_BENCH_TURNS", "0")) or max(
        10_000, int(round(sf * 80_000_000))
    )
    warm_path = _warm_corpus()
    corpus_path = _corpus_path(n_turns)

    probe = _cpu_probe()
    reprobes = [MAX_REPROBES]  # shared bounded-retry budget
    best: dict[int, dict] = {}
    trials: dict[int, list[float]] = {N_EXEC_HI: [], N_EXEC_LO: []}
    windows: list[float] = []
    pair_effs: list[float] = []
    trials_run = 0
    for i in range(TRIALS):
        if i > 0 and trials[N_EXEC_HI]:
            # shed later trials when behind: one completed pair + queries
            # beats two pairs + a dead artifact. Estimate the next pair
            # from the last one, keep ~3 min of tail for the query table.
            est = trials[N_EXEC_HI][-1] + trials[N_EXEC_LO][-1] + 120
            if _remaining() < est * 1.3 + 180:
                break
        pair = _gated_pair(corpus_path, warm_path, reprobes)
        trials_run += 1
        windows.append(pair["window_ceiling"])
        pair_effs.append(
            round(
                (pair["hi"]["triples"] / pair["hi"]["elapsed_sec"])
                / (pair["lo"]["triples"] / pair["lo"]["elapsed_sec"])
                / (N_EXEC_HI / N_EXEC_LO),
                3,
            )
        )
        for n_exec, r in ((N_EXEC_HI, pair["hi"]), (N_EXEC_LO, pair["lo"])):
            trials[n_exec].append(round(r["elapsed_sec"], 3))
            if n_exec not in best or r["elapsed_sec"] < best[n_exec]["elapsed_sec"]:
                best[n_exec] = r
    hi, lo = best[N_EXEC_HI], best[N_EXEC_LO]
    thr_hi = hi["triples"] / hi["elapsed_sec"]
    thr_lo = lo["triples"] / lo["elapsed_sec"]

    # per-stage shrink table, live-measured from this run's event logs:
    # stages matched by name between the best hi and best lo level; a
    # corpus-proportional stage should shrink toward 4.0x with 4x the
    # executors, and the table makes visible which do and which are the
    # fixed floor. Top stages by lo-level wall time.
    stage_shrink = []
    hs, ls = hi.get("stages") or {}, lo.get("stages") or {}
    for name in sorted(ls, key=lambda n: -ls[n])[:12]:
        if name in hs and hs[name] > 0 and ls[name] >= 200:
            stage_shrink.append(
                {
                    "stage": name,
                    "wall_lo_ms": ls[name],
                    "wall_hi_ms": hs[name],
                    "shrink": round(ls[name] / hs[name], 2),
                }
            )
    # headline efficiency = MEDIAN of the WINDOW-MATCHED per-trial pair
    # efficiencies (accepted windows only). Each trial runs hi and lo
    # back-to-back inside one probed co-tenancy window, so the pair
    # ratio controls for the neighbor; the old ratio-of-minima mixed
    # windows and one lucky lo minute biased it hard (observed this
    # round: lo 78.9s in one window vs 133-149s in the other three ->
    # 0.289 cross-window vs 0.425 matched-pair median). The median
    # rejects interference in BOTH directions (a crushed lo inflates a
    # pair, a crushed hi deflates it).
    accepted = [
        e for e, w in zip(pair_effs, windows) if ACCEPT_CEILING <= w <= 1.15
    ] or pair_effs
    eff = statistics.median(accepted)
    eff_min_ratio = (thr_hi / thr_lo) / (N_EXEC_HI / N_EXEC_LO)

    def emit(queries, query_errors, curve, partial):
        """Print the artifact JSON line with everything measured so far.
        Called after EVERY completed stage (pairs -> queries -> curve):
        the driver takes the LAST parseable line, so a timeout or kill
        mid-stage still leaves the best-so-far artifact behind. The same
        payload is mirrored to BENCH/last_run.json — a durable copy that
        survives even a failed stdout capture."""
        payload = json.dumps(
                {
                    "metric": "pipeline_e2e",
                    "value": round(hi["elapsed_sec"], 3),
                    "unit": "sec",
                    "queries": queries,
                    **({"query_errors": query_errors} if query_errors else {}),
                    **({"partial": True} if partial else {}),
                    "sf": sf,
                    "n_turns": n_turns,
                    "mentions": hi["mentions"],
                    "triples_emitted": hi["triples"],
                    "triples_per_sec": round(thr_hi, 1),
                    "mentions_per_sec": round(hi["mentions"] / hi["elapsed_sec"], 1),
                    "budget_s": BUDGET_S,
                    "elapsed_total_s": round(time.monotonic() - _T_START, 1),
                    # what the DEADLINE dropped, if anything (failed
                    # queries live in query_errors, not here) — the
                    # final line is complete iff trials_run ==
                    # trials_planned and query_passes_run ==
                    # query_passes_planned with deadline_cut false
                    # (mid-run partial lines also carry "partial": true)
                    "shed": {
                        "trials_planned": TRIALS,
                        "trials_run": trials_run,
                        "query_passes_planned": query_meta.get("passes_planned", 2),
                        "query_passes_run": query_meta.get("passes_run", 0),
                        "queries_deadline_cut": query_meta.get("deadline_cut", False),
                        "queries_planned": len(BENCH_QUERIES),
                        "queries_timed": len(queries),
                    },
                    "scaling": {
                        "mode": f"local-cluster[N,{EXEC_CORES},8192] — separate executor JVMs",
                        "executors_hi": N_EXEC_HI,
                        "executors_lo": N_EXEC_LO,
                        "cores_hi": N_EXEC_HI * EXEC_CORES,
                        "cores_lo": N_EXEC_LO * EXEC_CORES,
                        "sec_hi": round(hi["elapsed_sec"], 3),
                        "sec_lo": round(lo["elapsed_sec"], 3),
                        "throughput_hi": round(thr_hi, 1),
                        "throughput_lo": round(thr_lo, 1),
                        "efficiency": round(eff, 3),
                        "efficiency_estimator": (
                            "median of window-matched per-trial pair "
                            "efficiencies (accepted windows)"
                        ),
                        # the old cross-window ratio of best-of-trials — kept
                        # for comparability; statistically weaker (mixes
                        # co-tenancy windows between numerator and denominator)
                        "efficiency_min_ratio": round(eff_min_ratio, 3),
                        # the same number with the host's co-tenancy ceiling
                        # divided out (memory-bandwidth probe, same run): what
                        # the plan would scale to on non-co-tenant hardware
                        "efficiency_probe_normalized": round(
                            min(1.0, eff / max(1e-9, probe["membw_scaling_ceiling"])),
                            3,
                        ),
                        "membw_scaling_ceiling": probe["membw_scaling_ceiling"],
                        "trials": trials_run,
                        "trials_sec_hi": trials[N_EXEC_HI],
                        "trials_sec_lo": trials[N_EXEC_LO],
                        "trial_pair_efficiencies": pair_effs,
                        "trial_window_ceilings": windows,
                        "accept_ceiling": ACCEPT_CEILING,
                        # live per-stage shrink (event logs, best hi vs best
                        # lo): corpus-proportional stages approach 4.0, the
                        # fixed serial floor stays ~1 and amortizes with
                        # corpus size (BENCH/BASELINE.md curve)
                        "stage_shrink": stage_shrink,
                        "curve": curve,
                    },
                    "cpu_probe": probe,
                },
        )
        print(payload, flush=True)
        try:
            bdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
            os.makedirs(bdir, exist_ok=True)
            with open(os.path.join(bdir, "last_run.json"), "w") as f:
                f.write(payload + "\n")
        except OSError:
            pass  # the stdout line is the artifact of record

    query_meta = {"passes_planned": 2, "passes_run": 0, "deadline_cut": False}
    emit({}, {}, [], partial=True)  # pairs done — artifact is now parseable

    queries, query_errors, query_meta = _time_queries(SF_DIR)
    emit(queries, query_errors, [], partial=True)

    # efficiency-vs-corpus-size curve (half / main / 2x the main size,
    # probe-gated pairs): the non-scaling component is a fixed floor
    # that AMORTIZES with corpus size — a rising, then holding, curve is
    # the design evidence that the pipeline itself scales and the plateau
    # is the host's co-tenancy ceiling (see membw_scaling_ceiling).
    # OPT-IN (off by default): 7+ extra pipeline runs do not fit the
    # driver's budget — the curve lives in BENCH/BASELINE.md artifacts.
    curve = []
    if os.environ.get("SPARK_GRAFT_BENCH_CURVE", "0") == "1" and _remaining() > 600:
        # half / main / 2x: with the 16M default the 2x point is the 32M
        # corpus round 2/3 charted at 4x — same top of the curve, half
        # the extra trial time
        for nt in (max(10_000, n_turns // 2), n_turns, n_turns * 2):
            try:
                if nt == n_turns:
                    c_hi, c_lo, c_win = hi, lo, min(windows)
                    c_effs = accepted
                else:
                    # three gated pairs; efficiency = median of the
                    # WINDOW-ACCEPTED pair ratios (same estimator and
                    # acceptance rule as the headline — with 3 pairs the
                    # median rejects one crushed window, which 2 pairs
                    # cannot: a 0.244 pair in a 0.67-ceiling window
                    # dragged a curve point from 0.47 to 0.36 once);
                    # sec_hi/sec_lo stay min-per-level for display
                    cpath = _corpus_path(nt)
                    pairs = [_gated_pair(cpath, warm_path, reprobes) for _ in range(3)]
                    c_hi = min((p["hi"] for p in pairs), key=lambda r: r["elapsed_sec"])
                    c_lo = min((p["lo"] for p in pairs), key=lambda r: r["elapsed_sec"])
                    c_win = min(p["window_ceiling"] for p in pairs)
                    all_effs = [
                        round(
                            (p["hi"]["triples"] / p["hi"]["elapsed_sec"])
                            / (p["lo"]["triples"] / p["lo"]["elapsed_sec"])
                            / (N_EXEC_HI / N_EXEC_LO),
                            3,
                        )
                        for p in pairs
                    ]
                    c_effs = [
                        e
                        for e, p in zip(all_effs, pairs)
                        if ACCEPT_CEILING <= p["window_ceiling"] <= 1.15
                    ] or all_effs
                curve.append(
                    {
                        "n_turns": nt,
                        "triples": c_hi["triples"],
                        "sec_hi": round(c_hi["elapsed_sec"], 3),
                        "sec_lo": round(c_lo["elapsed_sec"], 3),
                        "efficiency": round(statistics.median(c_effs), 3),
                        # accepted-window pairs only (the estimator's
                        # input); the per-pair windows ship so a reader
                        # can audit the acceptance
                        "pair_efficiencies": c_effs,
                        "pair_windows": (
                            [p["window_ceiling"] for p in pairs]
                            if nt != n_turns
                            else windows
                        ),
                        "window_ceiling": c_win,
                    }
                )
            except Exception as e:  # a curve point must never cost the artifact
                curve.append({"n_turns": nt, "error": str(e)[:200]})

    emit(queries, query_errors, curve, partial=False)


if __name__ == "__main__":
    main()
