"""NT/NQ ingestion: parser semantics vs the reference scanners, vocab text
sink round-trip, and the full parse → encode → permutations → export_text
== sorted-unique-mapped contract (/root/reference/test/check_index.cpp:9-40)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rdf_indexes_spark.operators import encode as enc
from rdf_indexes_spark.operators import permutations as perm
from rdf_indexes_spark.sources.ntriples import (
    parse_rdf_lines,
    rdf_to_mentions,
    read_ntriples,
)

NT_FIXTURE = """\
<http://ex/s1> <http://ex/p1> <http://ex/o1> .
<http://ex/s1> <http://ex/p1> "a literal"@en .
<http://ex/s2> <http://ex/p2> "typed lit"^^<http://www.w3.org/2001/XMLSchema#string> .
<http://ex/s1> <http://ex/p1> <http://ex/o1> .
this line is garbage
<http://ex/s3> <http://ex/p1> "spaced  literal with . dot" .
"""

NQ_FIXTURE = """\
<http://ex/s1> <http://ex/p1> <http://ex/o1> <http://graph/g> .
_:b0 <http://ex/p2> "inner text"@en <http://graph/g> .
<http://ex/s2> <http://ex/p1> bare_token .
"""


@pytest.fixture()
def nt_path(tmp_path):
    p = tmp_path / "fixture.nt"
    p.write_text(NT_FIXTURE)
    return str(p)


def test_parse_nt_semantics(spark, nt_path):
    got = read_ntriples(spark, nt_path, fmt="nt").orderBy("line_no").toPandas()
    rows = list(zip(got.s, got.p, got.o))
    # rdf_parser.parse_nt: brackets stripped; literals keep quotes + tags
    # through end of line minus the " ." terminator; malformed line dropped
    assert rows == [
        ("http://ex/s1", "http://ex/p1", "http://ex/o1"),
        ("http://ex/s1", "http://ex/p1", '"a literal"@en'),
        (
            "http://ex/s2",
            "http://ex/p2",
            '"typed lit"^^<http://www.w3.org/2001/XMLSchema#string>',
        ),
        ("http://ex/s1", "http://ex/p1", "http://ex/o1"),
        ("http://ex/s3", "http://ex/p1", '"spaced  literal with . dot"'),
    ]
    flagged = read_ntriples(spark, nt_path, fmt="nt", with_malformed=True)
    assert flagged.filter("malformed").count() == 1


def test_parse_nq_semantics(spark, tmp_path):
    p = tmp_path / "fixture.nq"
    p.write_text(NQ_FIXTURE)
    got = read_ntriples(spark, str(p), fmt="nq").orderBy("line_no").toPandas()
    rows = list(zip(got.s, got.p, got.o))
    # rdf_parser.parse_nq: bare tokens allowed; literal = BETWEEN-quote
    # content (tags dropped); graph term never scanned
    assert rows == [
        ("http://ex/s1", "http://ex/p1", "http://ex/o1"),
        ("_:b0", "http://ex/p2", "inner text"),
        ("http://ex/s2", "http://ex/p1", "bare_token"),
    ]


def test_vocab_text_roundtrip(spark, nt_path, tmp_path):
    mentions = rdf_to_mentions(read_ntriples(spark, nt_path, fmt="nt"))
    vocab = enc.build_vocab(mentions, "cs")
    out = str(tmp_path / "subjects_vocab")
    perm.export_vocab_text(vocab, out, num_partitions=2)
    back = perm.read_vocab_text(spark, out).toPandas().sort_values("id")
    orig = vocab.select("term", "id").toPandas().sort_values("id")
    assert list(back.term) == list(orig.term)
    assert list(back.id) == list(orig.id)
    # reference ordering contract: line 0 = most frequent subject (s1 x4)
    assert back.iloc[0]["term"] == "http://ex/s1"


def test_nt_to_index_roundtrip(spark, nt_path, tmp_path):
    """check_index contract: the materialized SPO permutation equals the
    sorted-unique mapped corpus (sort -n -u of .mapped.unsorted,
    /root/reference/scripts/sort.py + test/check_index.cpp:9-40)."""
    mentions = rdf_to_mentions(read_ntriples(spark, nt_path, fmt="nt"))
    vocabs = enc.role_vocabs(enc.build_vocabs_fused(mentions))
    encoded, quarantine = enc.encode_mentions(mentions, vocabs)
    assert quarantine.count() == 0
    # .mapped.unsorted analogue: duplicates retained, corpus order
    mapped = [
        (r.s, r.p, r.o) for r in encoded.orderBy("conv_id").select("s", "p", "o").collect()
    ]
    assert len(mapped) == 5  # all parsed lines mapped, dup kept
    want = sorted(set(mapped))

    triples = perm.dedup_triples(encoded)
    out = str(tmp_path / "perms_text")
    perm.export_text(triples, out, num_partitions=2)
    spo_dir = os.path.join(out, "text_spo")
    lines = []
    for fname in sorted(os.listdir(spo_dir)):
        if fname.startswith("part-"):
            with open(os.path.join(spo_dir, fname)) as f:
                lines.extend(f.read().splitlines())
    got = [tuple(int(x) for x in ln.split()) for ln in lines]
    assert got == want

    # id semantics: most frequent subject gets id 0 (s1 appears 3x as subject)
    vs = {r.term: r.id for r in vocabs["s"].collect()}
    assert vs["http://ex/s1"] == 0


def test_delta_batch_quarantine(spark, nt_path, tmp_path):
    """Encoding a NEW batch against FROZEN vocabs drops-and-logs mentions
    whose terms miss a vocab (the reference prints & skips,
    map_dataset.py:61-83): quarantine holds exactly those mentions and
    the encoded set excludes them."""
    mentions = rdf_to_mentions(read_ntriples(spark, nt_path, fmt="nt"))
    vocabs = enc.role_vocabs(enc.build_vocabs_fused(mentions))
    delta = tmp_path / "delta.nt"
    delta.write_text(
        "<http://ex/s1> <http://ex/p1> <http://ex/o1> .\n"       # all known
        "<http://ex/sNEW> <http://ex/p1> <http://ex/o1> .\n"     # unknown subject
        "<http://ex/s1> <http://ex/pNEW> <http://ex/o1> .\n"     # unknown predicate
    )
    dm = rdf_to_mentions(read_ntriples(spark, str(delta), fmt="nt"))
    encoded, quarantine = enc.encode_mentions(dm, vocabs)
    assert encoded.count() == 1
    q = quarantine.select("cs", "pred").toPandas()
    assert len(q) == 2
    assert set(q.cs) == {"http://ex/sNEW", "http://ex/s1"}
    assert "http://ex/pNEW" in set(q.pred)


def test_line_no_exact_across_file_splits(spark, tmp_path):
    """A plain-text file far larger than maxPartitionBytes is SPLIT across
    many tasks (the planner's maxSplitBytes is usually well below the
    configured cap, so splitting is the norm at scale) — the
    (file, block_start)-keyed numbering must still produce the exact
    sequential corpus line_no."""
    n = 20000
    f = tmp_path / "big.nt"
    f.write_text(
        "\n".join(f"<http://ex/s{i}> <http://ex/p{i % 7}> <http://ex/o{i % 13}> ." for i in range(n))
        + "\n"
    )
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try:
        assert spark.read.text(str(f)).rdd.getNumPartitions() > 4  # really split
        rows = read_ntriples(spark, str(f), fmt="nt").orderBy("line_no").collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert [r["line_no"] for r in rows] == list(range(n))
    assert [r["s"] for r in rows] == [f"http://ex/s{i}" for i in range(n)]
