from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


def test_predicate_profile_golden(spark):
    """Each cardinality class on a purpose-built predicate; duplicate
    triples collapse before counting."""
    from rdf_indexes_spark.operators.schema import predicate_profile

    df = spark.createDataFrame(
        [
            # 1:1 — ssn: every subject one object, every object one subject
            ("a", "ssn", "s1"), ("b", "ssn", "s2"),
            # N:1 (functional, not inverse): born_in — dup asserted twice
            ("a", "born_in", "rome"), ("b", "born_in", "rome"),
            ("b", "born_in", "rome"),
            # 1:N (inverse-functional, not functional): manages
            ("a", "manages", "x"), ("a", "manages", "y"),
            # N:M: knows
            ("a", "knows", "b"), ("a", "knows", "c"), ("b", "knows", "c"),
            ("c", "knows", "c"),
        ],
        "s string, p string, o string",
    )
    got = {r.p: r.asDict() for r in predicate_profile(df).collect()}
    assert got["ssn"]["card"] == "1:1"
    assert got["ssn"]["is_functional"] and got["ssn"]["is_inverse_functional"]
    assert got["born_in"]["card"] == "N:1"
    assert got["born_in"]["n_triples"] == 2  # dup collapsed
    assert got["born_in"]["n_subjects"] == 2
    assert got["born_in"]["n_objects"] == 1
    assert got["born_in"]["max_in"] == 2
    assert got["manages"]["card"] == "1:N"
    assert got["manages"]["max_out"] == 2
    assert got["knows"]["card"] == "N:M"
    assert got["knows"] == dict(
        p="knows", n_triples=4, n_subjects=3, n_objects=2, max_out=2,
        max_in=3, is_functional=False, is_inverse_functional=False,
        card="N:M",
    )


def test_predicate_profile_on_pipeline_triples(spark, transcripts, workdir):
    """Profile the actual KG pipeline's encoded triples: per-predicate
    n_triples must sum to the global triple count and every count must
    be bounded by the global distinct counts (consistency with D1)."""
    import os

    from rdf_indexes_spark.operators.schema import predicate_profile
    from rdf_indexes_spark.pipeline import run_pipeline

    art = run_pipeline(
        spark, transcripts, os.path.join(workdir, "schema_prof"), input_id="sp"
    )
    stats = art.stats.first()
    prof = predicate_profile(art.triples).collect()
    assert len(prof) == stats.distinct_predicates
    assert sum(r.n_triples for r in prof) == stats.num_triples
    assert all(r.n_subjects <= stats.distinct_subjects for r in prof)
    assert all(r.n_objects <= stats.distinct_objects for r in prof)
    assert all(r.max_out <= r.n_triples for r in prof)


def test_fact_provenance_golden(spark):
    from rdf_indexes_spark.operators.schema import fact_provenance

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    df = spark.createDataFrame(
        [
            # same fact, three assertions across two conversations
            ("a", "knows", "b", "c1", ts(0)),
            ("a", "knows", "b", "c1", ts(5)),
            ("a", "knows", "b", "c2", ts(60)),
            # singleton fact
            ("a", "knows", "c", "c1", ts(1)),
        ],
        "s string, p string, o string, conv_id string, ts timestamp",
    )
    got = {
        (r.s, r.p, r.o): (r.n_assertions, r.n_conversations, r.first_ts, r.last_ts)
        for r in fact_provenance(df).collect()
    }
    assert got[("a", "knows", "b")] == (3, 2, ts(0), ts(60))
    assert got[("a", "knows", "c")] == (1, 1, ts(1), ts(1))


def test_fact_provenance_confidence_ordering(spark, transcripts):
    """On the synthetic corpus: collapse assertions from the raw
    transcript mention stream — n_conversations never exceeds
    n_assertions, and the collapsed fact set is duplicate-free."""
    from rdf_indexes_spark.operators.extract import extract_mentions
    from rdf_indexes_spark.operators.schema import fact_provenance

    m = extract_mentions(transcripts)
    assertions = m.select(
        F.col("subj").alias("s"),
        F.col("pred").alias("p"),
        F.col("obj").alias("o"),
        "conv_id",
        F.lit(dt.datetime(2024, 1, 1)).alias("ts"),
    )
    out = fact_provenance(assertions)
    assert out.filter(F.col("n_conversations") > F.col("n_assertions")).count() == 0
    assert out.groupBy("s", "p", "o").count().filter("count > 1").count() == 0
    assert out.agg(F.sum("n_assertions")).first()[0] == assertions.count()


def test_fact_history_golden(spark):
    """Runs compress, reverts reopen, intervals chain half-open, the
    current version has NULL valid_to."""
    from rdf_indexes_spark.operators.schema import current_facts, fact_history

    t0 = dt.datetime(2024, 1, 1)

    def ts(d):
        return t0 + dt.timedelta(days=d)

    df = spark.createDataFrame(
        [
            # value A (asserted twice — one version), then B, then back to A
            ("s", "p", "A", ts(0)), ("s", "p", "A", ts(1)),
            ("s", "p", "B", ts(2)),
            ("s", "p", "A", ts(5)),
            # independent key, single version
            ("s", "q", "X", ts(3)),
        ],
        "s string, p string, o string, ts timestamp",
    )
    hist = sorted(
        (r.s, r.p, r.version, r.o, r.valid_from, r.valid_to)
        for r in fact_history(df).collect()
    )
    assert hist == [
        ("s", "p", 0, "A", ts(0), ts(2)),
        ("s", "p", 1, "B", ts(2), ts(5)),
        ("s", "p", 2, "A", ts(5), None),
        ("s", "q", 0, "X", ts(3), None),
    ]
    cur = {(r.s, r.p): (r.o, r.as_of) for r in current_facts(df).collect()}
    assert cur == {("s", "p"): ("A", ts(5)), ("s", "q"): ("X", ts(3))}


def test_fact_history_tie_and_snapshot_equivalence(spark):
    """Equal timestamps order by object value (deterministic); the
    current_facts snapshot equals history's open rows on any input."""
    from rdf_indexes_spark.operators.schema import current_facts, fact_history

    import random

    t0 = dt.datetime(2024, 1, 1)
    rng = random.Random(3)
    rows = [
        (f"s{rng.randrange(8)}", "p", f"v{rng.randrange(4)}",
         t0 + dt.timedelta(hours=rng.randrange(24)))
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "s string, p string, o string, ts timestamp")
    open_rows = {
        (r.s, r.p): r.o
        for r in fact_history(df).filter(F.col("valid_to").isNull()).collect()
    }
    snapshot = {(r.s, r.p): r.o for r in current_facts(df).collect()}
    assert open_rows == snapshot
    # exactly one open interval per key
    n_keys = df.select("s", "p").distinct().count()
    assert len(open_rows) == n_keys


def test_inverse_predicate_counts_golden(spark):
    """Symmetric diagonal, inverse off-diagonal, no-overlap pairs
    absent, duplicates collapsed."""
    from rdf_indexes_spark.operators.schema import inverse_predicate_counts

    df = spark.createDataFrame(
        [
            # aka: fully symmetric (2 edges, both reversed present)
            ("a", "aka", "b"), ("b", "aka", "a"),
            # manages / reports_to: exact inverses (2 pairs)
            ("m1", "manages", "e1"), ("e1", "reports_to", "m1"),
            ("m1", "manages", "e2"), ("e2", "reports_to", "m1"),
            ("m1", "manages", "e2"),  # dup collapses
            # knows: one asymmetric edge, no counterpart
            ("x", "knows", "y"),
        ],
        "s string, p string, o string",
    )
    got = {
        (r.p, r.q): (r.n_overlap, r.n_p, r.n_q)
        for r in inverse_predicate_counts(df).collect()
    }
    assert got[("aka", "aka")] == (2, 2, 2)
    assert got[("manages", "reports_to")] == (2, 2, 2)
    assert got[("reports_to", "manages")] == (2, 2, 2)
    assert ("knows", "knows") not in got
    assert ("manages", "aka") not in got
    # overlap is bounded by both marginals
    assert all(n <= np and n <= nq for n, np, nq in got.values())


def test_inverse_predicate_counts_brute_force(spark):
    import random

    from rdf_indexes_spark.operators.schema import inverse_predicate_counts

    rng = random.Random(9)
    triples = {
        (rng.randrange(12), f"p{rng.randrange(4)}", rng.randrange(12))
        for _ in range(120)
    }
    df = spark.createDataFrame(sorted(triples), "s long, p string, o long")
    want = {}
    for s, p, o in triples:
        for s2, q, o2 in triples:
            if s2 == o and o2 == s:
                k = (p, q)
                want[k] = want.get(k, 0) + 1
    got = {
        (r.p, r.q): r.n_overlap for r in inverse_predicate_counts(df).collect()
    }
    assert got == want


def test_rdfs_closure_golden(spark):
    """3-level chain: entailed types at every ancestor, asserted types
    deduped against entailed ones, hierarchy closure complete, and
    non-schema predicates ignored."""
    from rdf_indexes_spark.operators.schema import rdfs_closure

    df = spark.createDataFrame(
        [
            ("cat", "sub", "mammal"),
            ("mammal", "sub", "animal"),
            ("animal", "sub", "thing"),
            ("felix", "type", "cat"),
            ("felix", "type", "mammal"),  # asserted AND entailed — one row
            ("rex", "type", "mammal"),
            ("felix", "likes", "rex"),  # unrelated predicate: dropped
        ],
        "s string, p string, o string",
    )
    got = {(r.s, r.p, r.o) for r in rdfs_closure(df, "sub", "type").collect()}
    want_types = {
        ("felix", "type", t) for t in ["cat", "mammal", "animal", "thing"]
    } | {("rex", "type", t) for t in ["mammal", "animal", "thing"]}
    want_sub = {
        ("cat", "sub", d) for d in ["mammal", "animal", "thing"]
    } | {("mammal", "sub", d) for d in ["animal", "thing"]} | {("animal", "sub", "thing")}
    assert got == want_types | want_sub


def test_rdfs_closure_int_ids(spark):
    """Integer-id triple tables (the encoded-corpus case) work: the
    predicate literals are cast to the column type."""
    from rdf_indexes_spark.operators.schema import rdfs_closure

    df = spark.createDataFrame(
        [(10, 1, 11), (11, 1, 12), (100, 2, 10)],
        "s long, p long, o long",
    )
    got = {(r.s, r.p, r.o) for r in rdfs_closure(df, 1, 2).collect()}
    assert got == {
        (100, 2, 10), (100, 2, 11), (100, 2, 12),
        (10, 1, 11), (10, 1, 12), (11, 1, 12),
    }


def test_smush_golden(spark):
    """Chained sameAs classes merge transitively, both subject and
    object positions rewrite, untouched terms pass through, collapsing
    rewrites dedup, and sameAs edges are dropped."""
    from rdf_indexes_spark.operators.canonicalize import smush

    df = spark.createDataFrame(
        [
            # class {a1, a2, a3} via a chain; canonical = 'a1'
            ("a2", "sameAs", "a1"), ("a3", "sameAs", "a2"),
            # class {b1, b9}; canonical = 'b1'
            ("b9", "sameAs", "b1"),
            # facts: subject rewrites, object rewrites, both rewrite
            ("a2", "knows", "b9"), ("a3", "knows", "b9"),  # collapse to one
            ("x", "likes", "a3"),
            ("a1", "likes", "x"),   # already canonical
            ("x", "likes", "y"),    # untouched
            ("a2", "self", "a2"),   # both positions → (a1, self, a1)
        ],
        "s string, p string, o string",
    )
    got = {(r.s, r.p, r.o) for r in smush(df, "sameAs").collect()}
    assert got == {
        ("a1", "knows", "b1"),
        ("x", "likes", "a1"),
        ("a1", "likes", "x"),
        ("x", "likes", "y"),
        ("a1", "self", "a1"),
    }


def test_smush_int_ids(spark):
    from rdf_indexes_spark.operators.canonicalize import smush

    df = spark.createDataFrame(
        [(7, 0, 3), (3, 0, 9), (100, 1, 9), (9, 1, 100)],
        "s long, p long, o long",
    )
    got = {(r.s, r.p, r.o) for r in smush(df, 0).collect()}
    assert got == {(100, 1, 3), (3, 1, 100)}

    # a 12-hop sameAs chain 50-51-...-62 is wider than CC's lazy rounds:
    # the convergence check must carry every member to the class minimum
    chain = [(50 + i + 1, 0, 50 + i) for i in range(12)]
    facts = [(50 + i, 2, 200 + i) for i in range(13)] + [(300, 3, 62)]
    df = spark.createDataFrame(chain + facts, "s long, p long, o long")
    got = {(r.s, r.p, r.o) for r in smush(df, 0).collect()}
    assert got == {(50, 2, 200 + i) for i in range(13)} | {(300, 3, 50)}


def test_rhodf_entailment_golden(spark):
    """Hand-checked ρdf closure: rdfs7 property expansion through a
    2-level subPropertyOf chain, domain/range typing fired on EXPANDED
    triples (superproperty domains apply), rdfs9 type lift through the
    class chain, schema closure pairs emitted."""
    from rdf_indexes_spark.operators.schema import rhodf_entailment

    df = spark.createDataFrame(
        [
            ("worksFor", "sp", "affiliatedWith"),
            ("affiliatedWith", "sp", "relatedTo"),
            ("Employee", "sc", "Person"),
            ("Person", "sc", "Agent"),
            ("worksFor", "dom", "Employee"),
            ("relatedTo", "dom", "Thing"),
            ("worksFor", "rng", "Org"),
            ("bob", "type", "Employee"),
            ("alice", "worksFor", "acme"),
            ("x", "relatedTo", "y"),
        ],
        "s string, p string, o string",
    )
    got = {
        (r.s, r.p, r.o)
        for r in rhodf_entailment(df, "sc", "sp", "dom", "rng", "type").collect()
    }
    want = {
        # rdfs7 expansion
        ("alice", "worksFor", "acme"), ("alice", "affiliatedWith", "acme"),
        ("alice", "relatedTo", "acme"), ("x", "relatedTo", "y"),
        # types: dom/range on expanded stream + sc lift
        ("alice", "type", "Employee"), ("alice", "type", "Person"),
        ("alice", "type", "Agent"), ("alice", "type", "Thing"),
        ("bob", "type", "Employee"), ("bob", "type", "Person"),
        ("bob", "type", "Agent"),
        ("x", "type", "Thing"),
        ("acme", "type", "Org"),
        # schema closure
        ("worksFor", "sp", "affiliatedWith"), ("worksFor", "sp", "relatedTo"),
        ("affiliatedWith", "sp", "relatedTo"),
        ("Employee", "sc", "Person"), ("Employee", "sc", "Agent"),
        ("Person", "sc", "Agent"),
        ("worksFor", "dom", "Employee"), ("relatedTo", "dom", "Thing"),
        ("worksFor", "rng", "Org"),
    }
    assert got == want


def test_rhodf_no_schema_is_identity(spark):
    """With no schema rows the closure is the asserted instance set."""
    from rdf_indexes_spark.operators.schema import rhodf_entailment

    df = spark.createDataFrame(
        [("a", "knows", "b"), ("b", "knows", "a"), ("a", "knows", "b")],
        "s string, p string, o string",
    )
    got = {(r.s, r.p, r.o)
           for r in rhodf_entailment(df, "sc", "sp", "dom", "rng", "type").collect()}
    assert got == {("a", "knows", "b"), ("b", "knows", "a")}


def test_property_table_golden(spark):
    from rdf_indexes_spark.operators.schema import property_table
    import pytest

    df = spark.createDataFrame(
        [
            ("e1", "name", "zeta"), ("e1", "name", "alpha"),  # multi → min
            ("e1", "age", "30"),
            ("e2", "age", "41"),
            ("e3", "other", "x"),  # no requested predicate → absent
        ],
        "s string, p string, o string",
    )
    rows = {r.s: (r.name, r.age)
            for r in property_table(df, ["name", "age"]).collect()}
    assert rows == {"e1": ("alpha", "30"), "e2": (None, "41")}
    with pytest.raises(ValueError):
        property_table(df, [])
    with pytest.raises(ValueError):
        property_table(df, ["name", "name"])


def test_table_to_triples_roundtrip(spark):
    """Melt then pivot reproduces the records; nulls assert nothing;
    zero exchanges (map-side stack)."""
    import pytest

    from rdf_indexes_spark.operators.schema import property_table, table_to_triples

    df = spark.createDataFrame(
        [(1, "alice", 30), (2, "bob", None), (3, None, 9)],
        "id long, name string, age int",
    )
    t = table_to_triples(df, "id", ["name", "age"])
    got = {(r.s, r.p, r.o) for r in t.collect()}
    assert got == {
        ("1", "name", "alice"), ("1", "age", "30"),
        ("2", "name", "bob"), ("3", "age", "9"),
    }
    assert "Exchange" not in t._jdf.queryExecution().executedPlan().toString()
    back = {r.s: (r.name, r.age)
            for r in property_table(t, ["name", "age"]).collect()}
    assert back == {"1": ("alice", "30"), "2": ("bob", None), "3": (None, "9")}
    with pytest.raises(ValueError):
        table_to_triples(df, "id", [])
    with pytest.raises(ValueError):
        table_to_triples(df, "id", ["name", "name"])


def test_domain_range_induction_golden(spark):
    """Modal domain/range pick with deterministic tie-break, multi-class
    entities counted per class, untyped endpoints excluded from typing
    totals but kept in n_triples."""
    from rdf_indexes_spark.operators.schema import domain_range_induction

    triples = spark.createDataFrame(
        [
            # 'works_at': subjects 2 Person + 1 Robot, objects all Org
            ("p1", "works_at", "o1"), ("p2", "works_at", "o1"),
            ("r1", "works_at", "o2"),
            # 'likes': tie City vs Org on object side → 'City' (asc) wins;
            # subject u9 untyped → n_typed_s < n_triples
            ("p1", "likes", "c1"), ("p1", "likes", "o1"), ("u9", "likes", "c1"),
        ],
        "s string, p string, o string",
    )
    types = spark.createDataFrame(
        [
            ("p1", "Person"), ("p2", "Person"), ("r1", "Robot"),
            ("o1", "Org"), ("o2", "Org"),
            ("c1", "City"),
            ("c1", "City"),  # duplicate assignment collapses
        ],
        "entity string, cls string",
    )
    out = {r.p: r for r in domain_range_induction(triples, types).collect()}
    wa = out["works_at"]
    assert (wa.n_triples, wa.domain_cls, wa.domain_support, wa.n_typed_s) == (3, "Person", 2, 3)
    assert (wa.range_cls, wa.range_support, wa.n_typed_o) == ("Org", 3, 3)
    lk = out["likes"]
    assert (lk.n_triples, lk.domain_cls, lk.domain_support, lk.n_typed_s) == (3, "Person", 2, 2)
    # object side: c1 twice, o1 once → City by count; and the tie rule:
    assert (lk.range_cls, lk.range_support, lk.n_typed_o) == ("City", 2, 3)


def test_domain_range_tie_breaks_on_class_asc(spark):
    from rdf_indexes_spark.operators.schema import domain_range_induction

    triples = spark.createDataFrame(
        [("a", "p", "x"), ("b", "p", "x")], "s string, p string, o string"
    )
    types = spark.createDataFrame(
        [("a", "Zeta"), ("b", "Alpha"), ("x", "T")], "entity string, cls string"
    )
    row = domain_range_induction(triples, types).collect()[0]
    assert row.domain_cls == "Alpha" and row.domain_support == 1


def test_profile_columns_golden(spark):
    """Nulls, distincts, and string-rendered min/max across mixed types;
    all-NULL column renders empty min/max."""
    from rdf_indexes_spark.operators.schema import profile_columns

    df = spark.createDataFrame(
        [(1, "b", None), (2, None, None), (2, "a", None), (None, "a", None)],
        "k long, s string, z string",
    )
    got = {r.col_name: r for r in profile_columns(df).collect()}
    assert set(got) == {"k", "s", "z"}
    k, s, z = got["k"], got["s"], got["z"]
    assert (k.n, k.n_null, k.n_distinct, k.min_value, k.max_value) == (4, 1, 2, "1", "2")
    assert (s.n_null, s.n_distinct, s.min_value, s.max_value) == (1, 2, "a", "b")
    assert (z.n_null, z.n_distinct, z.min_value, z.max_value) == (4, 0, None, None)
    # column subset + unknown-column error
    sub = profile_columns(df, ["k"]).collect()
    assert len(sub) == 1 and sub[0].col_name == "k"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        profile_columns(df, ["nope"])


def test_profile_columns_approx_mode(spark):
    """The HLL path (100 TB knob) stays within its documented error."""
    from rdf_indexes_spark.operators.schema import profile_columns

    df = spark.range(0, 5000).selectExpr("id", "CAST(id % 97 AS STRING) AS m")
    got = {r.col_name: r for r in profile_columns(df, exact_distinct=False).collect()}
    # default rsd is 5% RELATIVE STD DEV — allow a 3-sigma draw
    assert abs(got["id"].n_distinct - 5000) / 5000 < 0.15
    assert abs(got["m"].n_distinct - 97) / 97 < 0.15


def test_fuse_facts_golden(spark):
    """Majority vote with conversation-independence and codepoint tie
    break, on a hand-computed conflict set."""
    from rdf_indexes_spark.operators.schema import fuse_facts

    rows = [
        # (s,p) = (e1, born_in): "paris" from convs 1,2; "rome" from conv 3
        ("e1", "born_in", "paris", 1),
        ("e1", "born_in", "paris", 1),  # repeat inside conv 1: one vote
        ("e1", "born_in", "paris", 2),
        ("e1", "born_in", "rome", 3),
        # (e2, color): tie 1-1 -> codepoint-smallest wins ("blue" < "red")
        ("e2", "color", "red", 1),
        ("e2", "color", "blue", 2),
        # (e3, x): single candidate
        ("e3", "x", "y", 9),
    ]
    df = spark.createDataFrame(rows, "s string, p string, o string, conv_id long")
    got = {
        (r["s"], r["p"]): (
            r["o"], r["support"], r["total_votes"], r["n_candidates"], r["confidence_x1000"]
        )
        for r in fuse_facts(df).collect()
    }
    assert got == {
        ("e1", "born_in"): ("paris", 2, 3, 2, 666),
        ("e2", "color"): ("blue", 1, 2, 2, 500),
        ("e3", "x"): ("y", 1, 1, 1, 1000),
    }
