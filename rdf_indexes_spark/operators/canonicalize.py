"""Canonicalization: connected components over link edges, then
frequency-based representative selection (north-rule step 3).

CC algorithm: min-label propagation over the symmetrized edge set —
label(v) ← min(label(v), min label of neighbors) until no label moves.
Alias clusters have tiny diameter (surface variants of one entity), so
``ROUNDS`` rounds are built as ONE lazy plan — each round one shuffle
join + one min aggregation, with no per-round job — and a single check
round then proves convergence. Min is algebraic, so partial aggregation
already combines a hub surface's labels map-side before the exchange.
A graph whose diameter exceeds ``ROUNDS`` (a long chain) keeps taking
checked rounds, each cut with a lazy checkpoint, up to ``MAX_ROUNDS``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROUNDS = 4
MAX_ROUNDS = 25


def edge_endpoints(edges: DataFrame) -> DataFrame:
    """Distinct surfaces incident to at least one link edge. CC only ever
    needs these: every other surface is trivially its own component (and
    canonicalize_mentions' left-join+coalesce maps it to itself for free).
    At scale the link graph is orders of magnitude smaller than the
    surface vocabulary, so restricting CC to endpoints shrinks the
    iterated state from |vocab| to |linked surfaces|."""
    return (
        edges.select(F.col("a").alias("surface"))
        .unionAll(edges.select(F.col("b").alias("surface")))
        .distinct()
    )


def _propagate(sym_id: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label round over the self-looped symmetric edge set:
    labels' = min component over neighbors (incl. self via the loops).
    ONE join + ONE groupBy; labels referenced ONCE, so a k-round plan
    grows linearly (a naive union(labels, nbr-mins) references labels
    twice and doubles the plan every round: 2^k analysis blowup)."""
    return (
        sym_id.join(labels, sym_id.dst == labels.surface)
        .groupBy("src")
        .agg(F.min("component").alias("component"))
        .select(F.col("src").alias("surface"), "component")
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(a, b) → (surface, component) for every edge endpoint, with
    component = the minimum surface reachable from it.

    ``edges`` must be materialized (cached or checkpointed): it is read
    by the edge count, the endpoints and the symmetrization.

    The loop's exchanges are sized by the LINK GRAPH — one partition per
    100k edges, between 8 and the default parallelism — not the session
    default: every round is ~2 stage waves over graph-sized state, so
    surplus partitions are pure task-dispatch latency repeated every
    round, a fixed cost identical at every cluster size. The aggregations
    inside the rounds follow spark.sql.shuffle.partitions, and every CC
    stage executes inside this function's check jobs, so the conf is
    scoped to the call and restored on exit — keeping ALL loop exchanges
    at one width so each round's join stays co-partitioned (a mismatch
    would re-exchange the labels side every round)."""
    spark = edges.sparkSession
    nparts = max(8, min(spark.sparkContext.defaultParallelism, edges.count() // 100_000 + 1))
    nodes = edge_endpoints(edges)
    conf_key = "spark.sql.shuffle.partitions"
    old_parts = spark.conf.get(conf_key)
    spark.conf.set(conf_key, str(nparts))
    # no dedup shuffle on sym: min-aggregation is idempotent under
    # duplicate edges. Repartition BEFORE persist: the 3-way union
    # otherwise caches with the summed partition count of its inputs, and
    # every round re-reads all of those near-empty blocks; one hash
    # exchange on the join key collapses them and rounds then join
    # co-partitioned sides.
    sym_id = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .unionAll(nodes.select(F.col("surface").alias("src"), F.col("surface").alias("dst")))
        .repartition(nparts, "dst")
        .persist()  # reused every round inside the consuming jobs
    )
    # try/finally: neither the cached symmetric graph nor the conf may
    # outlive this call on ANY path — on success the check job has already
    # materialized labels' lazy checkpoint, so the result no longer needs
    # the cache.
    try:
        labels = nodes.select(F.col("surface"), F.col("surface").alias("component"))
        for _ in range(ROUNDS):
            labels = _propagate(sym_id, labels)
        # labels is cut so the k-round prefix computes once; each check is
        # one count over |linked surfaces| rows: one more round must
        # change zero labels.
        labels = labels.localCheckpoint(eager=False)
        for _ in range(MAX_ROUNDS - ROUNDS):
            nxt = _propagate(sym_id, labels).localCheckpoint(eager=False)
            changed = (
                nxt.join(labels.withColumnRenamed("component", "_old"), "surface")
                .filter(F.col("component") != F.col("_old"))
                .limit(1)
                .count()
            )
            if changed == 0:
                break
            labels = nxt  # diameter above ROUNDS: keep propagating
        return labels
    finally:
        sym_id.unpersist()
        spark.conf.set(conf_key, old_parts)


def canonical_map(
    mentions_facts: DataFrame, components: DataFrame, broadcast_components: bool = True
) -> DataFrame:
    """(surface, canonical): representative = most frequent surface in the
    component across subj+obj fact occurrences; ties → lexicographic min.

    Frequency semantics mirror the reference's vocab counting over the raw
    corpus (/root/reference/scripts/extract_vocabs.py:33-56) — duplicates
    count.

    broadcast_components: the semi-filter below force-broadcasts the
    component surfaces (an explicit hint BYPASSES autoBroadcastJoinThreshold
    — it is not best-effort). Right for link graphs orders of magnitude
    below the corpus; pass False for billion-edge graphs and the filter
    becomes a shuffled left-semi join instead (same semantics, no driver
    collect) — the same escape hatch as canonicalize_mentions'
    broadcast_map."""
    # only LINKED surfaces ever consume a frequency (lab below is
    # components LEFT-join occ) — semi-filter the melted fact stream by
    # the component surfaces BEFORE aggregating, so the occ exchange
    # ships link-graph-scale rows, not one per distinct corpus surface.
    # This keeps every exchange in this function graph-scale, matching
    # the edge-count-derived shuffle width pipeline callers scope around
    # it.
    surfaces = components.select("surface")
    if broadcast_components:
        surfaces = F.broadcast(surfaces)
    occ = (
        mentions_facts.select(F.col("subj").alias("surface"))
        .unionAll(mentions_facts.select(F.col("obj").alias("surface")))
        .join(surfaces, "surface", "left_semi")
        .groupBy("surface")
        .agg(F.count("*").alias("freq"))
    )
    # lazy cut: lab is referenced three times below (max-freq agg, the
    # tie filter, the final join) — uncut, the components⋈occ subtree
    # would compute three times inside the one consuming job.
    lab = (
        components.join(occ, "surface", "left")
        .fillna(0, subset=["freq"])
        .localCheckpoint(eager=False)
    )
    # representative via two aggregations instead of a per-component
    # window: Window.partitionBy(component) funnels a giant component's
    # whole surface list through ONE task (the same hub-skew shape fixed
    # in rank_remap); max/min aggs keep partial aggregation and spread.
    best = lab.groupBy("component").agg(F.max("freq").alias("_mf"))
    reps = (
        lab.join(best, "component")
        .filter(F.col("freq") == F.col("_mf"))
        .groupBy("component")
        .agg(F.min("surface").alias("canonical"))
    )
    return lab.join(reps, "component").select("surface", "canonical")


def canonicalize_mentions(
    mentions_facts: DataFrame, cmap: DataFrame, broadcast_map: bool = True
) -> DataFrame:
    """Rewrite fact mentions through the canonical map (two hash joins).

    The map is surface-vocabulary-sized — orders of magnitude below the
    mention count — so broadcast is the right default; pass
    broadcast_map=False for billion-surface corpora and let AQE pick a
    (skew-handled) shuffle join instead.
    """
    cm = F.broadcast(cmap) if broadcast_map else cmap
    return (
        mentions_facts.join(
            cm.select(F.col("surface").alias("subj"), F.col("canonical").alias("_cs")),
            "subj",
            "left",
        )
        .join(
            cm.select(F.col("surface").alias("obj"), F.col("canonical").alias("_co")),
            "obj",
            "left",
        )
        # left + coalesce: surfaces outside the canonical map (no link edge
        # touches them) are their own canonical form — this is what lets CC
        # run over edge endpoints only instead of the whole vocabulary.
        .select(
            "conv_id",
            "turn_idx",
            "mention_idx",
            F.coalesce(F.col("_cs"), F.col("subj")).alias("cs"),
            F.col("pred"),
            F.coalesce(F.col("_co"), F.col("obj")).alias("co"),
        )
    )


def smush(
    triples: DataFrame,
    sameas_p,
    s_col: str = "s",
    p_col: str = "p",
    o_col: str = "o",
    broadcast_threshold: int = 2_000_000,
) -> DataFrame:
    """owl:sameAs smushing: rewrite every triple onto one canonical
    member per sameAs equivalence class, dropping the sameAs edges.

    ``p == sameas_p`` rows are identity assertions (a sameAs b).
    Equivalence classes are the connected components of the undirected
    sameAs graph; the canonical member is the class minimum (the same
    deterministic rule the dictionary pipeline's canonicalizer uses —
    cheap, order-stable across engines). Every other triple has its
    subject AND object rewritten through the class map; identical
    post-rewrite triples collapse to one row. The reference stores
    asserted triples only (no owl surface); a KG-construction pipeline
    smushes before dictionary encoding so one entity gets one id.

    Scale plan: CC runs over the sameAs graph ONLY (identity-link scale,
    orders of magnitude below the corpus). The rewrite map keeps just
    the NON-identity entries and is broadcast when under
    ``broadcast_threshold`` rows, so the corpus-scale side crosses the
    wire once — for the final dedup exchange — and never for the joins.
    For billion-alias graphs pass a larger threshold=0-style escape by
    setting broadcast_threshold=0 (shuffled joins, same semantics).
    """
    p_type = triples.schema[p_col].dataType
    sa_lit = F.lit(sameas_p).cast(p_type)
    t = triples.select(
        F.col(s_col).alias("s"), F.col(p_col).alias("p"), F.col(o_col).alias("o")
    )
    sa = (
        t.filter(F.col("p") == sa_lit)
        .select(F.col("s").alias("a"), F.col("o").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates()
        .localCheckpoint(eager=False)  # CC reads it three times
    )
    comp = connected_components(sa)
    cmap = (
        comp.filter(F.col("surface") != F.col("component"))
        .select("surface", F.col("component").alias("_canon"))
        .localCheckpoint()
    )
    if broadcast_threshold and cmap.count() <= broadcast_threshold:
        cmap = F.broadcast(cmap)

    rest = t.filter(F.col("p") != sa_lit)
    return (
        rest.join(cmap.withColumnRenamed("surface", "s"), "s", "left")
        .withColumnRenamed("_canon", "_cs")
        .join(cmap.withColumnRenamed("surface", "o"), "o", "left")
        .select(
            F.coalesce(F.col("_canon"), F.col("o")).alias("_o2"),
            F.coalesce(F.col("_cs"), F.col("s")).alias("s"),
            "p",
        )
        .select("s", "p", F.col("_o2").alias("o"))
        .dropDuplicates()
    )
