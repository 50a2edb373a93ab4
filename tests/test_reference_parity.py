"""Byte-parity against the reference's OWN prep scripts.

Runs /root/reference/scripts/extract_vocabs.py + map_dataset.py (read-only,
executed from a temp cwd; a stub mmh3 satisfies their unconditional import —
the hash path itself is not exercised) on a small .nq.gz fixture, then
asserts OUR pipeline produces byte-identical artifacts:

  - the three vocab files (term per line, frequency-desc, first-occurrence
    tie-break)  ==  export_vocab_text output;
  - .mapped.unsorted (id triples in corpus order, duplicates kept)  ==  our
    encoded mentions ordered by corpus position;
  - sorted-unique mapped  ==  our deduped SPO permutation (the check_index
    contract, /root/reference/test/check_index.cpp:9-40).
"""

from __future__ import annotations

import gzip
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from rdf_indexes_spark.operators import encode as enc
from rdf_indexes_spark.operators import permutations as perm
from rdf_indexes_spark.sources.ntriples import rdf_to_mentions, read_ntriples

REF_SCRIPTS = "/root/reference/scripts"

NQ_FIXTURE = """\
<http://ex/s1> <http://ex/p1> <http://ex/o1> <http://g/1> .
<http://ex/s1> <http://ex/p1> "a literal"@en <http://g/1> .
<http://ex/s2> <http://ex/p2> "typed"^^<http://www.w3.org/2001/XMLSchema#string> <http://g/2> .
<http://ex/s1> <http://ex/p1> <http://ex/o1> <http://g/1> .
<http://ex/s3> <http://ex/p1> <http://ex/o2> <http://g/3> .
<http://ex/s2> <http://ex/p1> <http://ex/o1> <http://g/1> .
<http://ex/s3> <http://ex/p2> <http://ex/o2> <http://g/2> .
"""


@pytest.fixture(scope="module")
def ref_outputs(tmp_path_factory):
    if not os.path.isdir(REF_SCRIPTS):
        pytest.skip("reference scripts not available")
    d = tmp_path_factory.mktemp("refpar")
    # stub mmh3: the scripts import it unconditionally; only --hash uses it
    (d / "mmh3.py").write_text("def hash64(*a, **k):\n    raise NotImplementedError\n")
    nq = d / "fixture.nq.gz"
    with gzip.open(nq, "wt") as f:
        f.write(NQ_FIXTURE)
    env = {**os.environ, "PYTHONPATH": f"{d}{os.pathsep}{REF_SCRIPTS}"}
    r1 = subprocess.run(
        [sys.executable, os.path.join(REF_SCRIPTS, "extract_vocabs.py"), str(nq), "-S", "-P", "-O"],
        capture_output=True, text=True, env=env, cwd=d, timeout=120,
    )
    assert r1.returncode == 0, r1.stderr
    r2 = subprocess.run(
        [sys.executable, os.path.join(REF_SCRIPTS, "map_dataset.py"), str(nq)],
        capture_output=True, text=True, env=env, cwd=d, timeout=120,
    )
    assert r2.returncode == 0, r2.stderr
    prefix = str(nq)[: -len(".gz")]
    read = lambda suf: open(prefix + "." + suf).read().splitlines()
    return {
        "s": read("subjects_vocab"),
        "p": read("predicates_vocab"),
        "o": read("objects_vocab"),
        "mapped": read("mapped.unsorted"),
        "dir": d,
        "nq": str(nq),
    }


def test_vocabs_and_mapping_byte_parity(spark, ref_outputs, tmp_path):
    mentions = rdf_to_mentions(read_ntriples(spark, ref_outputs["nq"], fmt="nq"))
    vocabs = enc.role_vocabs(enc.build_vocabs_fused(mentions))
    # vocab files: identical term order (freq desc, first-occurrence ties)
    for role in ("s", "p", "o"):
        out = str(tmp_path / f"{role}_vocab")
        perm.export_vocab_text(vocabs[role], out, num_partitions=2)
        ours = []
        for fname in sorted(os.listdir(out)):
            if fname.startswith("part-"):
                ours.extend(open(os.path.join(out, fname)).read().splitlines())
        assert ours == ref_outputs[role], f"vocab role {role}"
    # mapped.unsorted: same id triples in corpus order, duplicates kept
    encoded, quarantine = enc.encode_mentions(mentions, vocabs)
    assert quarantine.count() == 0
    ours_mapped = [
        f"{r.s} {r.p} {r.o}"
        for r in encoded.orderBy("conv_id", "turn_idx", "mention_idx")
        .select("s", "p", "o")
        .collect()
    ]
    assert ours_mapped == ref_outputs["mapped"]
    # check_index contract: sorted-unique mapped == our SPO permutation
    want = sorted({tuple(int(x) for x in ln.split()) for ln in ref_outputs["mapped"]})
    triples = perm.dedup_triples(encoded)
    got = [
        (r.s, r.p, r.o)
        for r in triples.orderBy("s", "p", "o").collect()
    ]
    assert got == want


def test_parity_on_generated_corpus(spark, tmp_path):
    """Same byte-parity contract on a 2000-line generated NQ corpus with
    zipf-ish term reuse (frequency ties are common → the first-occurrence
    tie-break is genuinely exercised), literals, and duplicate lines."""
    if not os.path.isdir(REF_SCRIPTS):
        pytest.skip("reference scripts not available")
    import random

    rng = random.Random(99)
    lines = []
    for i in range(2000):
        s = f"http://ex/s{int(rng.paretovariate(1.2)) % 97}"
        p = f"http://ex/p{rng.randrange(7)}"
        if rng.random() < 0.25:
            o_term = f'some literal {rng.randrange(40)}'
            o = f'"{o_term}"@en'
        else:
            o = f"<http://ex/o{int(rng.paretovariate(1.1)) % 211}>"
        lines.append(f"<{s}> <{p}> {o} <http://g/{rng.randrange(3)}> .")
    # duplicates on purpose
    lines += lines[:50]
    nq = tmp_path / "gen.nq.gz"
    with gzip.open(nq, "wt") as f:
        f.write("\n".join(lines) + "\n")
    (tmp_path / "mmh3.py").write_text("def hash64(*a, **k):\n    raise NotImplementedError\n")
    env = {**os.environ, "PYTHONPATH": f"{tmp_path}{os.pathsep}{REF_SCRIPTS}"}
    for script, extra in (("extract_vocabs.py", ["-S", "-P", "-O"]), ("map_dataset.py", [])):
        r = subprocess.run(
            [sys.executable, os.path.join(REF_SCRIPTS, script), str(nq), *extra],
            capture_output=True, text=True, env=env, cwd=tmp_path, timeout=300,
        )
        assert r.returncode == 0, r.stderr
    prefix = str(nq)[: -len(".gz")]
    ref = {suf: open(prefix + "." + suf).read().splitlines()
           for suf in ("subjects_vocab", "predicates_vocab", "objects_vocab", "mapped.unsorted")}

    mentions = rdf_to_mentions(read_ntriples(spark, str(nq), fmt="nq"))
    vocabs = enc.role_vocabs(enc.build_vocabs_fused(mentions))
    for role, suf in (("s", "subjects_vocab"), ("p", "predicates_vocab"), ("o", "objects_vocab")):
        out = str(tmp_path / f"v_{role}")
        perm.export_vocab_text(vocabs[role], out, num_partitions=3)
        ours = []
        for fname in sorted(os.listdir(out)):
            if fname.startswith("part-"):
                ours.extend(open(os.path.join(out, fname)).read().splitlines())
        assert ours == ref[suf], f"vocab {role}"
    encoded, quarantine = enc.encode_mentions(mentions, vocabs)
    assert quarantine.count() == 0
    ours_mapped = [
        f"{r.s} {r.p} {r.o}"
        for r in encoded.orderBy("conv_id").select("s", "p", "o").collect()
    ]
    assert ours_mapped == ref["mapped.unsorted"]


def _gen_nq_lines(n: int, seed: int) -> list[str]:
    import random

    rng = random.Random(seed)
    lines = []
    for _ in range(n):
        s = f"http://ex/s{int(rng.paretovariate(1.2)) % 61}"
        p = f"http://ex/p{rng.randrange(5)}"
        if rng.random() < 0.25:
            o = f'"lit {rng.randrange(30)}"@en'
        else:
            o = f"<http://ex/o{int(rng.paretovariate(1.1)) % 127}>"
        lines.append(f"<{s}> <{p}> {o} <http://g/{rng.randrange(3)}> .")
    return lines


def _run_ref_scripts(nq_path, cwd, extract_args=("-S", "-P", "-O"), shim: str | None = None):
    shim_src = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "rdf_indexes_spark", "functions", "mmh3_compat.py",
    )
    if shim == "real":
        # our mmh3_compat doubles as an mmh3 shim — lets the reference's
        # --hash path execute unmodified without the C extension
        import shutil

        shutil.copy(shim_src, os.path.join(cwd, "mmh3.py"))
    else:
        with open(os.path.join(cwd, "mmh3.py"), "w") as f:
            f.write("def hash64(*a, **k):\n    raise NotImplementedError\n")
    env = {**os.environ, "PYTHONPATH": f"{cwd}{os.pathsep}{REF_SCRIPTS}"}
    for script, extra in (("extract_vocabs.py", list(extract_args)), ("map_dataset.py", [])):
        if script == "map_dataset.py" and "--hash" in extract_args:
            continue  # the reference's map --hash double-hashes vocab lines (see test docstring)
        r = subprocess.run(
            [sys.executable, os.path.join(REF_SCRIPTS, script), str(nq_path), *extra],
            capture_output=True, text=True, env=env, cwd=cwd, timeout=300,
        )
        assert r.returncode == 0, r.stderr


def _read_vocab_dir(out: str) -> list[str]:
    ours: list[str] = []
    for fname in sorted(os.listdir(out)):
        if fname.startswith("part-"):
            ours.extend(open(os.path.join(out, fname)).read().splitlines())
    return ours


def test_parity_multifile_nq(spark, tmp_path):
    """Multi-FILE corpus parity: 3 .nq.gz shards read as a directory must
    produce byte-identical vocabs to the reference scanning the shards
    CONCATENATED IN NAME ORDER (gzip members concatenate; the engine's
    line_no contract is name-ordered per-file offsets, not Spark's
    size-ordered split packing). The zipf reuse ACROSS shards makes
    frequency ties that only the cross-file first-occurrence order can
    break correctly."""
    if not os.path.isdir(REF_SCRIPTS):
        pytest.skip("reference scripts not available")
    shard_dir = tmp_path / "shards"
    shard_dir.mkdir()
    blobs = []
    for i in range(3):
        lines = _gen_nq_lines(700, seed=100 + i)
        blob = ("\n".join(lines) + "\n").encode()
        with gzip.open(shard_dir / f"c{i}.nq.gz", "wb") as f:
            f.write(blob)
        blobs.append(blob)
    concat = tmp_path / "concat.nq.gz"
    # reference view: one stream == shards concatenated in NAME order
    with open(concat, "wb") as f:
        for i in range(3):
            f.write(open(shard_dir / f"c{i}.nq.gz", "rb").read())
    _run_ref_scripts(concat, tmp_path)
    prefix = str(concat)[: -len(".gz")]
    ref = {suf: open(prefix + "." + suf).read().splitlines()
           for suf in ("subjects_vocab", "predicates_vocab", "objects_vocab", "mapped.unsorted")}

    mentions = rdf_to_mentions(read_ntriples(spark, str(shard_dir), fmt="nq"))
    vocabs = enc.role_vocabs(enc.build_vocabs_fused(mentions))
    for role, suf in (("s", "subjects_vocab"), ("p", "predicates_vocab"), ("o", "objects_vocab")):
        out = str(tmp_path / f"mf_{role}")
        perm.export_vocab_text(vocabs[role], out, num_partitions=3)
        assert _read_vocab_dir(out) == ref[suf], f"vocab {role}"
    encoded, quarantine = enc.encode_mentions(mentions, vocabs)
    assert quarantine.count() == 0
    ours_mapped = [
        f"{r.s} {r.p} {r.o}"
        for r in encoded.orderBy("conv_id").select("s", "p", "o").collect()
    ]
    assert ours_mapped == ref["mapped.unsorted"]


def test_parity_hash_mode_mmh3(spark, tmp_path):
    """--hash mode byte-parity (/root/reference/scripts/extract_vocabs.py:
    49-52): vocab files hold str(uint64 mmh3.hash64[0]) per line in
    freq-desc/first-occurrence order. The reference script runs with our
    mmh3_compat as the `mmh3` module (same published test vectors); ours
    is build_vocab(hash_ids=True, hash_fn='mmh3'). map_dataset --hash is
    NOT exercised: the reference's map step re-hashes the already-hashed
    vocab lines (map_dataset.py:19-24 vs extract_vocabs.py:49-52), so its
    dict lookups can never hit — extract's vocab files are the only
    well-defined --hash artifact."""
    if not os.path.isdir(REF_SCRIPTS):
        pytest.skip("reference scripts not available")
    lines = _gen_nq_lines(900, seed=7)
    nq = tmp_path / "hash.nq.gz"
    with gzip.open(nq, "wt") as f:
        f.write("\n".join(lines) + "\n")
    _run_ref_scripts(nq, tmp_path, extract_args=("-S", "-P", "-O", "--hash"), shim="real")
    prefix = str(nq)[: -len(".gz")]
    ref = {suf: open(prefix + "." + suf).read().splitlines()
           for suf in ("subjects_vocab", "predicates_vocab", "objects_vocab")}

    mentions = rdf_to_mentions(read_ntriples(spark, str(nq), fmt="nq"))
    for role, col, suf in (
        ("s", "cs", "subjects_vocab"),
        ("p", "pred", "predicates_vocab"),
        ("o", "co", "objects_vocab"),
    ):
        vocab = enc.build_vocab(mentions, col, hash_ids=True, hash_fn="mmh3")
        out = str(tmp_path / f"h_{role}")
        perm.export_vocab_text(vocab, out, num_partitions=2)
        assert _read_vocab_dir(out) == ref[suf], f"hash vocab {role}"
