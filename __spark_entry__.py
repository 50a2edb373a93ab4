"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes each implemented operator from SURVEY.md §2 over the
driver's parquet tables; `oracle_sql()` gives the DuckDB-equivalent ANSI
SQL. Column names and integer-only output conventions are aligned so the
driver's order-insensitive value-hash comparison is engine-portable
(explicit floor() for divisions, no raw floats in oracle-checked outputs
except where noted).

The KG pipeline itself (extract→link→canonicalize→materialize over
transcripts) is exercised by the rows-only `kg_*` queries (transcripts
are synthesized deterministically — they are not among the driver's
DuckDB views) and exhaustively by `python -m pytest tests/` against the
pandas oracle.
"""

from __future__ import annotations

import os
import re
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _derived_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer triple set derived from lineitem: s=suppkey, p=linenumber,
    o=partkey — the driver-table analogue of our encoded KG triples."""
    li = _read(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_suppkey").alias("s"),
        F.col("l_linenumber").cast("long").alias("p"),
        F.col("l_partkey").alias("o"),
    ).dropDuplicates(["s", "p", "o"])


_TRIPLES_SQL = (
    "SELECT DISTINCT l_suppkey AS s, CAST(l_linenumber AS BIGINT) AS p, "
    "l_partkey AS o FROM lineitem"
)


_CONSTS_CACHE: dict[str, tuple[int, int, int]] = {}


def _pattern_consts(spark: SparkSession, sf_dir: str) -> tuple[int, int, int]:
    """Deterministic probe constants: s0=min s; p0=min p at s0; o0=min o at
    (s0,p0) — same definition as the oracle's scalar subqueries. The first
    row of the (s,p,o)-sorted triple set IS exactly (s0,p0,o0), so this is
    ONE TakeOrderedAndProject job; memoized per sf_dir so the 8 pattern
    gates don't re-derive (and re-dedup lineitem for) the same constants."""
    if sf_dir not in _CONSTS_CACHE:
        r = _derived_triples(spark, sf_dir).orderBy("s", "p", "o").first()
        _CONSTS_CACHE[sf_dir] = (int(r["s"]), int(r["p"]), int(r["o"]))
    return _CONSTS_CACHE[sf_dir]


_CONST_SQL = """
consts AS (
  SELECT
    (SELECT min(s) FROM t) AS s0,
    (SELECT min(p) FROM t WHERE s = (SELECT min(s) FROM t)) AS p0,
    (SELECT min(o) FROM t WHERE s = (SELECT min(s) FROM t)
       AND p = (SELECT min(p) FROM t WHERE s = (SELECT min(s) FROM t))) AS o0
)
"""


def _with_triples(body: str) -> str:
    return f"WITH t AS ({_TRIPLES_SQL}), {_CONST_SQL} {body}"


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.01


# ---------------------------------------------------------------- queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: derived triples → pattern router F5 (?P?) over the
    materialized permutation semantics at sf0.001 (overridable via
    SPARK_GRAFT_ENTRY_SF_DIR so entry() runs outside this sandbox)."""
    sf_dir = os.environ.get("SPARK_GRAFT_ENTRY_SF_DIR", "/root/testdata/sf0.001")
    from rdf_indexes_spark.plans.router import select

    t = _derived_triples(spark, sf_dir)
    _, p0, _ = _pattern_consts(spark, sf_dir)
    tables = {name: t for name in ("spo", "pos", "osp", "ops", "pso")}
    return select(tables, p=p0)


def _q_b1(spark, sf_dir):
    return (
        _read(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("term"))
        .agg(F.count("*").alias("cnt"))
    )


def _q_b2(spark, sf_dir):
    from rdf_indexes_spark.functions.ranking import dense_ids

    freq = _q_b1(spark, sf_dir)
    return dense_ids(freq, [F.desc("cnt"), F.asc("term")], id_col="id").select("term", "id")


def _q_b4(spark, sf_dir):
    vocab = _q_b2(spark, sf_dir).withColumnRenamed("term", "event_type")
    ev = _read(spark, sf_dir, "events")
    return ev.join(F.broadcast(vocab), "event_type").select(
        "event_id", F.col("event_type").alias("term"), F.col("id").alias("type_id")
    )


def _q_b5(spark, sf_dir):
    return _read(spark, sf_dir, "events").select("user_id", "event_type").distinct()


def _q_c1(spark, sf_dir):
    return _derived_triples(spark, sf_dir)


def _q_c2(spark, sf_dir):
    # column permutation: project to POS order (pure projection, no shuffle)
    return _derived_triples(spark, sf_dir).select("p", "o", "s")


def _q_d1(spark, sf_dir):
    from rdf_indexes_spark.operators.permutations import compute_stats

    return compute_stats(_derived_triples(spark, sf_dir))


def _q_d3(spark, sf_dir):
    from rdf_indexes_spark.operators.permutations import skew_census

    return skew_census(_derived_triples(spark, sf_dir), "s")


def _q_e1(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    su = _read(spark, sf_dir, "supplier")
    na = _read(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
    )


def _pattern_query(mask: tuple[bool, bool, bool]):
    def q(spark, sf_dir):
        from rdf_indexes_spark.plans.router import select

        t = _derived_triples(spark, sf_dir)
        s0, p0, o0 = _pattern_consts(spark, sf_dir)
        tables = {name: t for name in ("spo", "pos", "osp", "ops", "pso")}
        return select(
            tables,
            s=s0 if mask[0] else None,
            p=p0 if mask[1] else None,
            o=o0 if mask[2] else None,
        )

    return q


def _pattern_sql(mask: tuple[bool, bool, bool]) -> str:
    conds = ["1=1"]
    if mask[0]:
        conds.append("s = (SELECT s0 FROM consts)")
    if mask[1]:
        conds.append("p = (SELECT p0 FROM consts)")
    if mask[2]:
        conds.append("o = (SELECT o0 FROM consts)")
    return _with_triples(f"SELECT s, p, o FROM t WHERE {' AND '.join(conds)}")


def _q_dedup_exact(spark, sf_dir):
    from rdf_indexes_spark.operators.dedup import exact_dedup

    return exact_dedup(_read(spark, sf_dir, "documents"))


def _q_ngram_jaccard(spark, sf_dir):
    from rdf_indexes_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(_read(spark, sf_dir, "documents"), threshold=0.6)
    return pairs.select(
        "a",
        "b",
        F.floor(F.col("inter") * 1000000.0 / F.col("union_size")).cast("long").alias("jacc_ppm"),
    )


def _q_near_dup_keep(spark, sf_dir):
    """End-to-end near-dedup: 0.8-Jaccard pairs -> distributed CC over
    the pair graph -> keep min doc id per cluster + every unpaired doc.
    All-pairs verify here for oracle parity; at scale pass
    minhash_lsh_pairs as `candidates` to ngram_jaccard_pairs."""
    from rdf_indexes_spark.operators.dedup import near_dup_keep, ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.8)
    return near_dup_keep(docs, pairs)


def _q_minhash_lsh(spark, sf_dir):
    from rdf_indexes_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_read(spark, sf_dir, "documents"), num_hashes=32, bands=8)


def _q_minhash_oracle(spark, sf_dir):
    """ORACLE-CHECKED MinHash+LSH (the scale path's exact machinery —
    numpy affine signature fold + banded bucket join — fed engine-
    portable token ids): tokens get dense lexicographic vocab ranks, so
    DuckDB replays signature mins and band-equality grouping value-for-
    value (the affine family mod the Mersenne prime is plain integer
    arithmetic; Spark's band keys hash the slice, the oracle compares the
    slice itself — identical grouping). The single-partition rank window
    and the vocab join are oracle-parity-only: the production path
    (dedup_minhash_lsh) hashes tokens map-side with xxhash64, no join."""
    from rdf_indexes_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures_from_ids,
    )

    sigs = minhash_signatures_from_ids(_portable_token_ids(spark, sf_dir), num_hashes=32)
    return minhash_lsh_pairs(num_hashes=32, bands=8, max_bucket=1_000_000, sigs=sigs)


def _portable_token_ids(spark, sf_dir, scramble: tuple[int, int] | None = None):
    """(doc_id, th: array<long>) with engine-portable token ids: dense
    lexicographic vocab ranks, optionally scrambled through one affine
    permutation mod the Mersenne prime (so bit-level ops like SimHash see
    dispersed bits). Oracle-parity-only plumbing — the single-partition
    rank window and the vocab join never run in the production paths."""
    from pyspark.sql import Window

    from rdf_indexes_spark.operators.dedup import _P, tokens_col

    docs = _read(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens_col()).alias("tok"))
    vocab = (
        toks.select("tok")
        .distinct()
        .select(
            "tok",
            (F.dense_rank().over(Window.orderBy("tok")) - 1).cast("long").alias("tid"),
        )
    )
    tid = F.col("tid")
    if scramble is not None:
        a, b = scramble
        tid = (tid * F.lit(a) + F.lit(b)) % F.lit(_P)
    return (
        toks.join(vocab, "tok")
        .select("doc_id", tid.alias("tid"))
        .groupBy("doc_id")
        .agg(F.collect_set("tid").alias("th"))
    )


def _minhash_oracle_sql(num_hashes: int = 32, bands: int = 8) -> str:
    from rdf_indexes_spark.operators.dedup import _P, _hash_params

    rpb = num_hashes // bands
    vals = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(_hash_params(num_hashes)))
    return f"""
WITH par(i, a, b) AS (VALUES {vals}),
toks AS (SELECT DISTINCT doc_id, tok FROM
         (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)),
vocab AS (SELECT tok, dense_rank() OVER (ORDER BY tok) - 1 AS tid
          FROM (SELECT DISTINCT tok FROM toks)),
th AS (SELECT doc_id, tid FROM toks JOIN vocab USING (tok)),
sigs AS (SELECT doc_id, p.i, MIN((th.tid * p.a + p.b) % {_P}) AS mv
         FROM th CROSS JOIN par p GROUP BY doc_id, p.i),
bk AS (SELECT doc_id, i // {rpb} AS band,
              string_agg(CAST(mv AS VARCHAR), ',' ORDER BY i) AS bkey
       FROM sigs GROUP BY doc_id, i // {rpb})
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
FROM bk l JOIN bk r ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
"""


def _q_simhash(spark, sf_dir):
    from rdf_indexes_spark.operators.dedup import simhash

    return simhash(_read(spark, sf_dir, "documents"))


_SIMHASH_SCRAMBLE_SEED = 11


def _q_simhash_oracle(spark, sf_dir):
    """ORACLE-CHECKED SimHash values (the real Arrow bit-vote packer,
    _simhash_batches) over portable token hashes: vocab ranks scrambled
    through one affine permutation mod 2^31-1, so bits 0..30 are
    dispersed and DuckDB replays the per-bit vote + pack exactly (bits
    31+ can never win a vote with 31-bit hashes, on either engine).
    Production (dedup_simhash) uses full 64-bit xxhash64 — this entry
    pins the packer's vote/tie/two's-complement semantics."""
    from rdf_indexes_spark.operators.dedup import _hash_params, simhash_from_ids

    scr = _hash_params(1, seed=_SIMHASH_SCRAMBLE_SEED)[0]
    return simhash_from_ids(_portable_token_ids(spark, sf_dir, scramble=scr))


def _q_simhash_near_oracle(spark, sf_dir):
    """ORACLE-CHECKED SimHash near-pairs (banding + popcount verify)
    over the same portable hashes. With 31-bit hashes the two high
    16-bit bands are identically zero, so the band join admits every
    pair and the popcount filter does the work — the oracle replays it
    as all-pairs + bit_count; candidate sets provably identical."""
    from rdf_indexes_spark.operators.dedup import (
        _hash_params,
        simhash_from_ids,
        simhash_near_pairs,
    )

    scr = _hash_params(1, seed=_SIMHASH_SCRAMBLE_SEED)[0]
    sims = simhash_from_ids(_portable_token_ids(spark, sf_dir, scramble=scr))
    return simhash_near_pairs(sims, max_hamming=8)


def _simhash_oracle_sql(near: bool = False, max_hamming: int = 8) -> str:
    from rdf_indexes_spark.operators.dedup import _P, _hash_params

    a, b = _hash_params(1, seed=_SIMHASH_SCRAMBLE_SEED)[0]
    base = f"""
WITH toks AS (SELECT DISTINCT doc_id, tok FROM
         (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)),
vocab AS (SELECT tok, dense_rank() OVER (ORDER BY tok) - 1 AS tid
          FROM (SELECT DISTINCT tok FROM toks)),
th AS (SELECT doc_id, (tid * {a} + {b}) % {_P} AS h FROM toks JOIN vocab USING (tok)),
bits AS (SELECT doc_id, bp.b AS bit, SUM(2 * ((h >> bp.b) & 1) - 1) AS vote
         FROM th CROSS JOIN (SELECT unnest(range(0, 31)) AS b) bp
         GROUP BY doc_id, bp.b),
sh AS (SELECT doc_id,
              CAST(SUM(CASE WHEN vote >= 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END)
                   AS BIGINT) AS simhash
       FROM bits GROUP BY doc_id)
"""
    if not near:
        return base + "SELECT doc_id, simhash FROM sh"
    return base + f"""
SELECT l.doc_id AS a, r.doc_id AS b,
       CAST(bit_count(xor(l.simhash, r.simhash)) AS INTEGER) AS hamming
FROM sh l JOIN sh r ON l.doc_id < r.doc_id
WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}
"""


def _q_token_count(spark, sf_dir):
    from rdf_indexes_spark.operators.textops import token_count

    return token_count(_read(spark, sf_dir, "documents"))


def _q_language_id(spark, sf_dir):
    from rdf_indexes_spark.operators.textops import language_id

    return language_id(_read(spark, sf_dir, "documents"))


def _q_unigram_rarity(spark, sf_dir):
    """Corpus-conditioned rare-token quality profile (cf <= 2)."""
    from rdf_indexes_spark.operators.textops import unigram_rarity

    return unigram_rarity(_read(spark, sf_dir, "documents"), rare_max_cf=2)


def _q_bigram_pmi(spark, sf_dir):
    """Collocation mining: corpus bigrams with count >= 5, PMI lift as an
    exact count ratio."""
    from rdf_indexes_spark.operators.textops import bigram_collocations

    return bigram_collocations(_read(spark, sf_dir, "documents"), min_count=5)


def _q_lm_surprisal(spark, sf_dir):
    """Bigram stupid-backoff LM quality scores: LM trained on the src0
    slice only, every document scored against it — so all three paths
    (seen / unigram-backoff / OOV) carry rows. Integer-exact surrogate
    (summed floored inverse probabilities), no libm in the compare."""
    from rdf_indexes_spark.operators.textops import lm_bigram_surprisal

    docs = _read(spark, sf_dir, "documents")
    return lm_bigram_surprisal(
        docs, train_docs=docs.filter(F.col("source") == "src0"), backoff_penalty=10
    )


def _q_source_overlap(spark, sf_dir):
    """Cross-source 8-gram containment matrix (data-mixing / leakage
    audit): ordered source pairs with distinct-gram overlap counts."""
    from rdf_indexes_spark.operators.contamination import source_overlap

    return source_overlap(_read(spark, sf_dir, "documents"), n=8)


def _q_vote_classifier(spark, sf_dir):
    """Model-based quality filter: integer-exact token-vote surrogate of
    the fasttext curated-vs-crawl classifier. Positive class = src0/src1
    slices, negative = the rest; every document scored."""
    from rdf_indexes_spark.operators.textops import vote_quality_classifier

    docs = _read(spark, sf_dir, "documents")
    pos = docs.filter(F.col("source").isin("src0", "src1"))
    neg = docs.filter(~F.col("source").isin("src0", "src1"))
    return vote_quality_classifier(docs, pos, neg)


def _q_token_bpe(spark, sf_dir):
    from rdf_indexes_spark.operators.textops import token_count_bpe

    return token_count_bpe(_read(spark, sf_dir, "documents"))


def _q_ann_ivf(spark, sf_dir):
    """Rows-only: IVF ANN (k-means quantizer isn't SQL-expressible);
    recall vs brute force asserted in tests/test_textops.py."""
    from rdf_indexes_spark.operators.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    qids = [r[0] for r in emb.select("vec_id").orderBy("vec_id").limit(5).collect()]
    queries_df = emb.filter(F.col("vec_id").isin(qids))
    return ivf_topk(emb, queries_df, k=5, n_centroids=16, nprobe=4).select(
        "query_id", "neighbor_id", "rank"
    )


def _q_ann_pq(spark, sf_dir):
    """Rows-only: product-quantization ADC top-k (Jégou et al. 2011) —
    the scan reads m one-byte codes per vector instead of the embedding
    column; recall vs brute force asserted in tests/test_new_ops.py."""
    from rdf_indexes_spark.operators.similarity import pq_topk

    emb = _read(spark, sf_dir, "embeddings")
    qids = [r[0] for r in emb.select("vec_id").orderBy("vec_id").limit(5).collect()]
    queries_df = emb.filter(F.col("vec_id").isin(qids))
    return pq_topk(emb, queries_df, k=5, m=16, ks=32, overscan=8).select(
        "query_id", "neighbor_id", "rank"
    )


def _q_quality(spark, sf_dir):
    from rdf_indexes_spark.operators.textops import quality_score

    return quality_score(_read(spark, sf_dir, "documents"))


def _q_fingerprint(spark, sf_dir):
    from rdf_indexes_spark.operators.textops import doc_fingerprint

    return doc_fingerprint(_read(spark, sf_dir, "documents"))


def _q_repetition(spark, sf_dir):
    """Gopher-style repetition signals (top-token fraction, duplicate-
    bigram fraction) — explode → (doc, token) hash aggregate →
    doc-keyed re-aggregate; integer x1000 ratios for exact oracle
    equality."""
    from rdf_indexes_spark.operators.textops import repetition_stats

    return repetition_stats(_read(spark, sf_dir, "documents"))


def _q_line_dedup(spark, sf_dir):
    """Corpus-wide exact segment dedup (C4's repeated-lines cut): the
    flat test docs are split at a token boundary BOTH engines derive
    identically; first occurrence (doc_id, pos order) survives, later
    repeats are removed; docs reassemble in original order."""
    from rdf_indexes_spark.operators.dedup import line_dedup

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace("text", " table", "\ntable").alias("text")
    )
    return line_dedup(docs)


def _q_duplicate_spans(spark, sf_dir):
    """Substring-level dedup (Lee et al. 2022): every duplicated k-token
    window except its corpus-first occurrence, with occurrence counts.
    The md5 fingerprint path is the engine-portable twin; the xxhash64
    scale path is pytest-pinned equal to it."""
    from rdf_indexes_spark.operators.dedup import duplicate_spans

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    out = duplicate_spans(docs, k=8, fingerprint="md5")
    # pos is int32 in the operator (window ordinal); surface as long so
    # the cross-engine frame dtypes line up exactly
    return out.withColumn("pos", F.col("pos").cast("long"))


def _q_ann(spark, sf_dir):
    from rdf_indexes_spark.operators.similarity import brute_force_topk

    emb = _read(spark, sf_dir, "embeddings")
    qids = [r[0] for r in emb.select("vec_id").orderBy("vec_id").limit(5).collect()]
    queries_df = emb.filter(F.col("vec_id").isin(qids))
    return brute_force_topk(emb, queries_df, k=5).select("query_id", "neighbor_id", "rank")


def _q_knn_graph(spark, sf_dir):
    """Exact kNN graph: every vector is a query — blocked matmul with
    per-row boundary-tie-safe top-k, then a global window. blocks=2
    forces the multi-block path even at tiny sf (the single-block case
    degenerates to one task)."""
    from rdf_indexes_spark.operators.similarity import knn_graph

    emb = _read(spark, sf_dir, "embeddings")
    return knn_graph(emb, k=5, blocks=2).select("query_id", "neighbor_id", "rank")


def _q_ann_lsh(spark, sf_dir):
    from rdf_indexes_spark.operators.similarity import lsh_topk

    emb = _read(spark, sf_dir, "embeddings")
    qids = [r[0] for r in emb.select("vec_id").orderBy("vec_id").limit(5).collect()]
    queries_df = emb.filter(F.col("vec_id").isin(qids))
    return lsh_topk(emb, queries_df, k=5, planes=6, tables=8).select(
        "query_id", "neighbor_id", "rank"
    )


def _q_a2_extract_oracle(spark, sf_dir):
    """ORACLE-CHECKED mention extraction (SURVEY A2): transcript-shaped
    text is constructed deterministically from the events table with the
    same expression on both engines, then the REAL extractor (the
    mapInPandas compiled-regex pass, operators/extract.py) runs against
    DuckDB's regexp_extract_all over the identical pattern — match
    positions, non-overlap semantics, mention_idx ordering and the
    cue→predicate mapping are all compared value-for-value. (The
    kg_extract_mentions entry stays rows-only: it exercises the real
    synthesized transcript corpus, which DuckDB cannot see.)"""
    from rdf_indexes_spark.operators.extract import extract_mentions

    ev = _read(spark, sf_dir, "events")
    eid = F.col("event_id").cast("string")
    text = F.concat(
        F.lit("E"), eid, F.lit(" uses B"), (F.col("event_id") % 97).cast("string"),
        F.lit(" . E"), eid, F.lit(" ships to C"), (F.col("event_id") % 53).cast("string"),
        F.lit(" . A"), eid, F.lit(" aka E"), eid,
    )
    tr = ev.select(eid.alias("conv_id"), F.lit(0).alias("turn_idx"), text.alias("text"))
    return extract_mentions(tr)


# SQL text-construction twins of the two layouts used by the oracle-
# checked extraction / full-pipeline gates (see _q_a2_extract_oracle /
# _q_kg_triples_oracle for the matching Spark expressions)
_A2_TEXT_SQL = (
    "concat('E', CAST(event_id AS VARCHAR), ' uses B', CAST(event_id % 97 AS VARCHAR), "
    "' . E', CAST(event_id AS VARCHAR), ' ships to C', CAST(event_id % 53 AS VARCHAR), "
    "' . A', CAST(event_id AS VARCHAR), ' aka E', CAST(event_id AS VARCHAR))"
)
_KG_TEXT_SQL = (
    "concat('A', CAST(event_id AS VARCHAR), ' uses B', CAST(event_id % 97 AS VARCHAR), "
    "' . A', CAST(event_id AS VARCHAR), ' aka E', CAST(event_id AS VARCHAR), "
    "' . E', CAST(event_id AS VARCHAR), ' ships to C', CAST(event_id % 53 AS VARCHAR))"
)


def _kg_extract_oracle_sql(text_sql: str = _A2_TEXT_SQL) -> str:
    import re as _re

    from rdf_indexes_spark.lexicon import CUE_TO_PRED

    cues = sorted(CUE_TO_PRED, key=len, reverse=True)
    pat = (
        "([A-Za-z][A-Za-z0-9-]*) ("
        + "|".join(_re.escape(c) for c in cues)
        + ") ([A-Za-z][A-Za-z0-9-]*)"
    )
    case = (
        "CASE "
        + " ".join(f"WHEN m.cue = '{c}' THEN '{p}'" for c, p in CUE_TO_PRED.items())
        + " END"
    )
    return f"""
WITH tr AS (
  SELECT CAST(event_id AS VARCHAR) AS conv_id, CAST(0 AS INTEGER) AS turn_idx,
         {text_sql} AS text
  FROM events
), g AS (
  SELECT conv_id, turn_idx,
         regexp_extract_all(text, '{pat}', 1) AS subs,
         regexp_extract_all(text, '{pat}', 2) AS cues,
         regexp_extract_all(text, '{pat}', 3) AS objs
  FROM tr
), m AS (
  SELECT conv_id, turn_idx, CAST(i - 1 AS INTEGER) AS mention_idx,
         subs[i] AS subj, cues[i] AS cue, objs[i] AS obj
  FROM g, UNNEST(range(1, len(subs) + 1)) AS t(i)
)
SELECT conv_id, turn_idx, mention_idx, subj, {case} AS pred, obj FROM m
"""


def _q_kg_triples_oracle(spark, sf_dir):
    """ORACLE-CHECKED full KG pipeline (the north-rule flagship):
    extract → link (sameAs channel) → connected components →
    representative selection → canonicalize → fused freq-desc/first-
    occurrence vocab ranks → dictionary encode → dedup, over transcript
    text constructed deterministically from the events table. The text
    puts the ALIAS surface into fact position ("A<i> uses ... A<i> aka
    E<i> ... E<i> ships to ..."), so the alias components {A_i, E_i} are
    frequency-TIED and canonicalization must pick the lexicographic-min
    representative and rewrite both facts onto it — all replayed
    value-for-value by the SQL twin (components are 2-member by
    construction, so the oracle's closure is a single symmetric join)."""
    from rdf_indexes_spark.lexicon import SAME_AS
    from rdf_indexes_spark.operators.canonicalize import canonicalize_mentions
    from rdf_indexes_spark.operators.encode import build_vocabs_fused, encode_mentions, role_vocabs
    from rdf_indexes_spark.operators.extract import extract_mentions
    from rdf_indexes_spark.operators.permutations import dedup_triples
    from rdf_indexes_spark.pipeline import build_canonical_map

    ev = _read(spark, sf_dir, "events")
    eid = F.col("event_id").cast("string")
    text = F.concat(
        F.lit("A"), eid, F.lit(" uses B"), (F.col("event_id") % 97).cast("string"),
        F.lit(" . A"), eid, F.lit(" aka E"), eid,
        F.lit(" . E"), eid, F.lit(" ships to C"), (F.col("event_id") % 53).cast("string"),
    )
    tr = ev.select(eid.alias("conv_id"), F.lit(0).alias("turn_idx"), text.alias("text"))
    mentions = extract_mentions(tr)
    facts = mentions.filter(F.col("pred") != SAME_AS)
    cmap = build_canonical_map(mentions)
    canon = canonicalize_mentions(facts, cmap)
    encoded, _ = encode_mentions(canon, role_vocabs(build_vocabs_fused(canon)))
    return dedup_triples(encoded).select("s", "p", "o")


def _kg_triples_oracle_sql() -> str:
    # same extraction CTE chain, over the alias-in-facts text layout
    a2 = _kg_extract_oracle_sql(text_sql=_KG_TEXT_SQL)
    return f"""
WITH mentions AS ({a2}),
facts AS (SELECT * FROM mentions WHERE pred <> 'sameAs'),
prf AS (SELECT surface, count(*) AS freq FROM
        (SELECT subj AS surface FROM facts UNION ALL SELECT obj FROM facts)
        GROUP BY surface),
akap AS (SELECT DISTINCT subj AS a, obj AS b FROM mentions WHERE pred = 'sameAs'),
symp AS (SELECT a, b FROM akap UNION SELECT b AS a, a AS b FROM akap),
cmap AS (
  SELECT s.a AS surface,
         CASE WHEN coalesce(fb.freq, 0) > coalesce(fa.freq, 0) THEN s.b
              WHEN coalesce(fa.freq, 0) > coalesce(fb.freq, 0) THEN s.a
              ELSE least(s.a, s.b) END AS canonical
  FROM symp s
  LEFT JOIN prf fa ON fa.surface = s.a
  LEFT JOIN prf fb ON fb.surface = s.b
),
canon AS (
  SELECT f.conv_id, f.mention_idx,
         coalesce(ms.canonical, f.subj) AS cs, f.pred,
         coalesce(mo.canonical, f.obj) AS co
  FROM facts f
  LEFT JOIN cmap ms ON ms.surface = f.subj
  LEFT JOIN cmap mo ON mo.surface = f.obj
),
vs AS (SELECT term, row_number() OVER (ORDER BY cnt DESC, fp) - 1 AS id FROM
       (SELECT cs AS term, count(*) AS cnt,
               min(conv_id || '#' || CAST(mention_idx AS VARCHAR)) AS fp
        FROM canon GROUP BY cs)),
vp AS (SELECT term, row_number() OVER (ORDER BY cnt DESC, fp) - 1 AS id FROM
       (SELECT pred AS term, count(*) AS cnt,
               min(conv_id || '#' || CAST(mention_idx AS VARCHAR)) AS fp
        FROM canon GROUP BY pred)),
vo AS (SELECT term, row_number() OVER (ORDER BY cnt DESC, fp) - 1 AS id FROM
       (SELECT co AS term, count(*) AS cnt,
               min(conv_id || '#' || CAST(mention_idx AS VARCHAR)) AS fp
        FROM canon GROUP BY co))
SELECT DISTINCT vs.id AS s, vp.id AS p, vo.id AS o
FROM canon
JOIN vs ON canon.cs = vs.term
JOIN vp ON canon.pred = vp.term
JOIN vo ON canon.co = vo.term
"""


def _q_dialogue_pairs(spark, sf_dir):
    """Dialogue shaping gated cross-engine: a transcript analogue is
    derived from `events` IDENTICALLY in both engines (user = the
    conversation, event order = turn order, event_type = the role), and
    dialogue_pairs emits one (context, response) pair per 'purchase'
    turn with the previous 3 turns as role-prefixed context lines."""
    from rdf_indexes_spark.operators.dialogue import dialogue_pairs
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    t = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("long").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.concat_ws(" ", "event_type", "props").alias("text"),
    )
    return dialogue_pairs(t, context_turns=3, response_role="purchase")


def _q_kg_mentions(spark, sf_dir):
    """Rows-only: mention extraction over deterministically synthesized
    transcripts at the sf's scale (transcripts aren't a DuckDB view)."""
    from rdf_indexes_spark.operators.extract import extract_mentions
    from rdf_indexes_spark.synth import generate, n_turns_for_sf

    n = min(n_turns_for_sf(_sf_of(sf_dir)), 10_000)
    corpus = generate(n, seed=42)
    return extract_mentions(spark.createDataFrame(corpus.transcripts))


def _q_kg_triples(spark, sf_dir):
    """Rows-only: the full KG pipeline (extract→link→canonicalize→encode→
    dedup) over synthesized transcripts — bounded size for the gate."""
    from rdf_indexes_spark.pipeline import run_pipeline
    from rdf_indexes_spark.synth import generate, n_turns_for_sf

    n = min(n_turns_for_sf(_sf_of(sf_dir)), 2_000)
    corpus = generate(n, seed=42)
    wd = tempfile.mkdtemp(prefix="kg_gate_")
    art = run_pipeline(spark, spark.createDataFrame(corpus.transcripts), wd, input_id=f"gate{n}")
    return art.triples


def _q_e4_p_index(spark, sf_dir):
    from rdf_indexes_spark.operators.permutations import p_index

    return p_index(_derived_triples(spark, sf_dir)).select("p", "s")


def _q_d4_count_pattern(spark, sf_dir):
    t = _derived_triples(spark, sf_dir)
    s0, _, _ = _pattern_consts(spark, sf_dir)
    return t.filter(F.col("s") == s0).agg(F.count("*").alias("n_results"))


def _q_c3_except(spark, sf_dir):
    t = _derived_triples(spark, sf_dir)
    s0, _, _ = _pattern_consts(spark, sf_dir)
    return t.exceptAll(t.filter(F.col("s") == s0))


def _q_a4_text_roundtrip(spark, sf_dir):
    from rdf_indexes_spark.operators.permutations import export_text, read_text_permutation

    t = _derived_triples(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="a4_")
    export_text(t, out, num_partitions=4)
    return read_text_permutation(spark, os.path.join(out, "text_pos"), "pos")


def _q_embedding_near_dup(spark, sf_dir):
    from rdf_indexes_spark.operators.similarity import embedding_near_dup

    return embedding_near_dup(
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")), threshold=0.35
    )


def _q_winnow(spark, sf_dir):
    """Winnowing sketches (MOSS): per-window min-hash gram selection,
    leftmost on ties — portable codepoint-polynomial hash so DuckDB
    replays selection value-for-value; the xxhash64 zero-shuffle array
    path is pytest-pinned equal under the same hash."""
    from rdf_indexes_spark.operators.dedup import winnow_fingerprints

    return winnow_fingerprints(
        _read(spark, sf_dir, "documents"), k=5, w=4, fingerprint="portable"
    )


def _q_winnow_pairs(spark, sf_dir):
    """Candidate pairs from winnowing sketches: shared-fingerprint join
    with the bucket cap, counting distinct shared grams per pair."""
    from rdf_indexes_spark.operators.dedup import (
        winnow_candidates,
        winnow_fingerprints,
    )

    fps = winnow_fingerprints(
        _read(spark, sf_dir, "documents"), k=5, w=4, fingerprint="portable"
    )
    return winnow_candidates(fps, min_shared=1, max_bucket=200)


def _q_redact_pii(spark, sf_dir):
    """PII scrub over docs with DETERMINISTICALLY injected emails / IPs /
    phone runs (both engines perform the same injection — the dedup_line
    seeding pattern), so the redaction actually fires at every SF."""
    from rdf_indexes_spark.operators.textops import redact_pii

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", " data ", " mail u1@ex-a.co.uk data "),
            " table ",
            " host 10.0.0.255 tel +44 20 7946 0958 table ",
        ).alias("text"),
    )
    return redact_pii(docs)


def _q_chunk_documents(spark, sf_dir):
    """Overlapping token chunks (32-token windows, stride 24) — the
    sequence-packing precursor; pure map-side, no shuffle."""
    from rdf_indexes_spark.operators.textops import chunk_documents

    return chunk_documents(_read(spark, sf_dir, "documents"), 32, 24)


def _events_transcript(spark, sf_dir):
    """The shared events→pseudo-transcript derivation (same shape as
    dialogue_pairs'): conv per user, contiguous turn_idx by event order,
    role folded from the event type, text = props."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("long").alias("turn_idx"),
        F.when(F.col("event_type").isin("click", "view"), "user")
        .otherwise("assistant")
        .alias("role"),
        F.col("props").alias("text"),
    )


def _q_compression_stats(spark, sf_dir):
    """zlib compression-ratio quality signal — rows-only (no zlib in
    DuckDB); exact library-recount oracle in tests/test_textops.py."""
    from rdf_indexes_spark.operators.textops import compression_stats

    return compression_stats(_read(spark, sf_dir, "documents"))


def _q_fim_transform(spark, sf_dir):
    """FIM rewrite of half the documents corpus (PSM format)."""
    from rdf_indexes_spark.operators.textops import fim_transform

    return fim_transform(_read(spark, sf_dir, "documents"), rate=0.5)


def _q_render_chat(spark, sf_dir):
    """ChatML-style SFT export of the events-derived transcript."""
    from rdf_indexes_spark.operators.dialogue import render_chat

    return render_chat(_events_transcript(spark, sf_dir))


def _q_dedup_conversations(spark, sf_dir):
    """Conversation-level exact dedup of the SFT export: identical
    rendered dialogues collapse to their first conv_id (hash-keyed in
    Spark, raw-text groups in the oracle — same groups either way)."""
    from rdf_indexes_spark.operators.dialogue import dedup_conversations

    return dedup_conversations(_events_transcript(spark, sf_dir))


def _q_loss_spans(spark, sf_dir):
    """Loss-mask spans for the same render — codepoint offsets of every
    assistant turn's content inside the rendered string."""
    from rdf_indexes_spark.operators.dialogue import loss_spans

    return loss_spans(_events_transcript(spark, sf_dir))


def _q_predicate_profile(spark, sf_dir):
    """KG schema induction over an events-derived triple set with all
    four cardinality classes present by construction: event_type edges
    are N:M, has_user / has_props are functional (one value per event),
    and has_user is additionally non-inverse-functional (users repeat)."""
    from rdf_indexes_spark.operators.schema import predicate_profile

    ev = _read(spark, sf_dir, "events")
    u = F.concat(F.lit("u"), F.col("user_id").cast("string"))
    e = F.concat(F.lit("e"), F.col("event_id").cast("string"))
    triples = (
        ev.select(u.alias("s"), F.col("event_type").alias("p"), F.col("props").alias("o"))
        .unionAll(ev.select(e.alias("s"), F.lit("has_user").alias("p"), u.alias("o")))
        .unionAll(ev.select(e.alias("s"), F.lit("has_props").alias("p"), F.col("props").alias("o")))
    )
    return predicate_profile(triples)


def _q_domain_range(spark, sf_dir):
    """rdfs:domain / rdfs:range induction over the purchase graph:
    in_nation has a MIXED domain (Customer + Supplier — the modal pick
    is doing real work), placed_by/contains have order-priority-typed
    subjects and Customer / brand-typed objects."""
    from rdf_indexes_spark.operators.schema import domain_range_induction

    c = _read(spark, sf_dir, "customer")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    pt = _read(spark, sf_dir, "part")

    def ent(prefix, col):
        return F.concat(F.lit(prefix), F.col(col).cast("string"))

    triples = (
        c.select(ent("c", "c_custkey").alias("s"), F.lit("in_nation").alias("p"),
                 ent("n", "c_nationkey").alias("o"))
        .unionAll(s.select(ent("s", "s_suppkey").alias("s"), F.lit("in_nation").alias("p"),
                           ent("n", "s_nationkey").alias("o")))
        .unionAll(o.select(ent("o", "o_orderkey").alias("s"), F.lit("placed_by").alias("p"),
                           ent("c", "o_custkey").alias("o")))
        .unionAll(li.select(ent("o", "l_orderkey").alias("s"), F.lit("contains").alias("p"),
                            ent("p", "l_partkey").alias("o")))
    )
    types = (
        c.select(ent("c", "c_custkey").alias("entity"), F.lit("Customer").alias("cls"))
        .unionAll(s.select(ent("s", "s_suppkey").alias("entity"), F.lit("Supplier").alias("cls")))
        .unionAll(
            n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
                ent("n", "n_nationkey").alias("entity"), F.col("r_name").alias("cls"))
        )
        .unionAll(o.select(ent("o", "o_orderkey").alias("entity"),
                           F.col("o_orderpriority").alias("cls")))
        .unionAll(pt.select(ent("p", "p_partkey").alias("entity"), F.col("p_brand").alias("cls")))
    )
    return domain_range_induction(triples, types)


def _q_fact_provenance(spark, sf_dir):
    """Assertion-stream collapse: events replayed as (s, p, o)
    assertions with a derived conversation id (event_id div 50) and the
    event timestamp; timestamps surfaced as epoch seconds for the
    cross-engine hash."""
    from rdf_indexes_spark.operators.schema import fact_provenance

    ev = _read(spark, sf_dir, "events").select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("s"),
        F.col("event_type").alias("p"),
        F.col("props").alias("o"),
        F.floor(F.col("event_id") / 50).cast("long").alias("conv_id"),
        "ts",
    )
    out = fact_provenance(ev)
    return out.select(
        "s", "p", "o", "n_assertions", "n_conversations",
        F.unix_timestamp("first_ts").alias("first_epoch"),
        F.unix_timestamp("last_ts").alias("last_epoch"),
    )


def _q_fuse_facts(spark, sf_dir):
    """Knowledge fusion: majority-vote truth discovery over the same
    events-derived assertion stream as kg_fact_provenance — per (s, p)
    the object with the most independent (conversation-distinct) votes
    wins, ties to the codepoint-smallest o."""
    from rdf_indexes_spark.operators.schema import fuse_facts

    ev = _read(spark, sf_dir, "events").select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("s"),
        F.col("event_type").alias("p"),
        F.col("props").alias("o"),
        F.floor(F.col("event_id") / 50).cast("long").alias("conv_id"),
    )
    return fuse_facts(ev)


def _q_inverse_predicates(spark, sf_dir):
    """Inverse/symmetric predicate induction over a lineitem-folded
    triple set (parallel predicates from l_linenumber give real
    overlap structure)."""
    from rdf_indexes_spark.operators.schema import inverse_predicate_counts

    li = _read(spark, sf_dir, "lineitem")
    t = li.select(
        (F.col("l_orderkey") % 499).alias("s"),
        F.concat(F.lit("p"), (F.col("l_linenumber") % 3).cast("string")).alias("p"),
        (F.col("l_partkey") % 499).alias("o"),
    )
    return inverse_predicate_counts(t)


def _q_rdfs_closure(spark, sf_dir):
    """RDFS rdfs9+rdfs11 materialization over a synthetic class tree:
    nation subClassOf region, region subClassOf 'thing', customers
    typed by nation. Entails region- and thing-level types for every
    customer plus the 1+-hop hierarchy pairs."""
    from rdf_indexes_spark.operators.schema import rdfs_closure

    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    c = _read(spark, sf_dir, "customer")
    nk = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    rk = F.concat(F.lit("r"), F.col("r_regionkey").cast("string"))
    triples = (
        n.select(
            nk.alias("s"),
            F.lit("subClassOf").alias("p"),
            F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("o"),
        )
        .unionAll(r.select(rk.alias("s"), F.lit("subClassOf").alias("p"), F.lit("thing").alias("o")))
        .unionAll(
            c.select(
                F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("s"),
                F.lit("type").alias("p"),
                F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("o"),
            )
        )
    )
    return rdfs_closure(triples, "subClassOf", "type")


def _q_bpe_encode(spark, sf_dir):
    """Rows-only: tokenizer application (learned merge table broadcast,
    map-side Arrow-batched encode; iterative learning isn't
    SQL-expressible). Sequential-application parity + lossless
    round-trip asserted in tests/test_textops.py."""
    from rdf_indexes_spark.operators.textops import bpe_encode, learn_bpe

    docs = _read(spark, sf_dir, "documents")
    merges = learn_bpe(docs, n_merges=8)
    return bpe_encode(docs, merges).select(
        "doc_id", "n_bpe_tokens", F.slice("tokens", 1, 12).alias("head_tokens")
    )


def _q_learn_bpe(spark, sf_dir):
    """First 8 BPE merges learned over the document corpus (rows-only:
    iterative merge selection isn't SQL-expressible; the exact
    algorithm oracle is tests/test_textops.py::_python_bpe)."""
    from rdf_indexes_spark.operators.textops import learn_bpe

    docs = _read(spark, sf_dir, "documents")
    return learn_bpe(docs, n_merges=8)


def _q_table_to_triples(spark, sf_dir):
    """Relational-dimension ingest: the nation table melted to (s,p,o)
    triples, one per non-null cell."""
    from rdf_indexes_spark.operators.schema import table_to_triples

    n = _read(spark, sf_dir, "nation")
    return table_to_triples(n, "n_nationkey", ["n_name", "n_regionkey"])


def _q_degree_histogram(spark, sf_dir):
    """Out-degree distribution of the order→part bipartite graph (the
    zipf census that sizes hub salting)."""
    from rdf_indexes_spark.operators.graph import degree_histogram

    li = _read(spark, sf_dir, "lineitem")
    return degree_histogram(
        li.select(F.col("l_orderkey").alias("src"), F.col("l_partkey").alias("dst"))
    )


def _q_keep_best(spark, sf_dir):
    """Survivor-policy dedup: per (lang, source) keep the longest
    document, ties to the smallest doc_id."""
    from rdf_indexes_spark.operators.dedup import keep_best

    docs = _read(spark, sf_dir, "documents")
    return keep_best(docs, ["lang", "source"], "n_chars")


def _q_json_field_stats(spark, sf_dir):
    """Typed aggregation over the semi-structured props column: the
    $.k integer per event_type, no parse UDF anywhere."""
    from rdf_indexes_spark.operators.textops import json_field_stats

    ev = _read(spark, sf_dir, "events")
    return json_field_stats(ev, "props", "$.k", ["event_type"])


def _q_trailing_counts(spark, sf_dir):
    """Leakage-safe trailing-hour features per user: strict-past count
    and exact hundredths sum for every event."""
    from rdf_indexes_spark.operators.temporal import trailing_counts

    ev = _read(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts",
        F.floor(F.col("value") * 100).cast("long").alias("v100"),
    )
    out = trailing_counts(ev, "ts", ["user_id"], 3600, "v100")
    return out.select("event_id", "user_id", "n_prev", "sum_prev")


def _q_event_transitions(spark, sf_dir):
    """User-journey bigram census: event_type transition counts over
    each user's (ts, event_id)-ordered stream."""
    from rdf_indexes_spark.operators.temporal import event_transitions

    ev = _read(spark, sf_dir, "events")
    return event_transitions(ev, "ts", "user_id", "event_type", "event_id")


def _q_fuzzy_pairs(spark, sf_dir):
    """ER near-miss candidates over the part-name vocabulary:
    first-letter blocking + levenshtein<=3 verify (the 'ring'/'rod'
    family gives real near-collisions)."""
    from rdf_indexes_spark.operators.link import fuzzy_pairs

    parts = _read(spark, sf_dir, "part").select(F.col("p_name").alias("surface"))
    return fuzzy_pairs(parts, max_dist=3, block_len=1)


def _q_time_resample(spark, sf_dir):
    """Hourly per-event-type grid with gaps filled: counts + exact
    hundredths totals, zeros where an hour has no events."""
    from rdf_indexes_spark.operators.temporal import time_resample

    ev = _read(spark, sf_dir, "events").select(
        "event_type", "ts",
        F.floor(F.col("value") * 100).cast("long").alias("v100"),
    )
    return time_resample(ev, "ts", 3600, ["event_type"], "v100")


def _q_grouped_quantiles(spark, sf_dir):
    """Exact per-language nearest-rank length quantiles over the
    documents table."""
    from rdf_indexes_spark.functions.ranking import grouped_quantiles

    docs = _read(spark, sf_dir, "documents")
    return grouped_quantiles(docs, ["lang"], "n_chars", (500, 900, 990))


def _q_stratified_sample(spark, sf_dir):
    """Deterministic 50-per-language sample: the affine-hash-ordered
    prefix of each stratum (same portable hash family as sample_hash)."""
    from rdf_indexes_spark.operators.sampling import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    return stratified_sample(docs, 50, "lang")


def _q_property_table(spark, sf_dir):
    """Entity-record pivot over the events assertion stream: one row
    per user, min props per event_type column (nulls filled with '-'
    for the cross-engine hash)."""
    from rdf_indexes_spark.operators.schema import property_table

    ev = _read(spark, sf_dir, "events").select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("s"),
        F.col("event_type").alias("p"),
        F.col("props").alias("o"),
    )
    out = property_table(ev, ["click", "view", "purchase"])
    return out.select(
        "s",
        *[F.coalesce(F.col(c), F.lit("-")).alias(c)
          for c in ("click", "view", "purchase")],
    )


def _q_bfs_distances(spark, sf_dir):
    """3-hop neighborhood of nation-0 customers over the real
    purchase graph: customer→order→part→supplier edges; minimum hop
    count per reached node."""
    from rdf_indexes_spark.operators.graph import bfs_distances

    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    c = _read(spark, sf_dir, "customer")
    edges = (
        o.select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("dst"),
        )
        .unionAll(
            li.select(
                F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
                F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
            )
        )
        .unionAll(
            li.select(
                F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
                F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
            )
        )
    )
    seeds = c.filter(F.col("c_nationkey") == 0).select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node")
    )
    return bfs_distances(edges, seeds, max_hops=3)


def _q_rhodf_entailment(spark, sf_dir):
    """Full ρdf closure over the events stream: every event_type is a
    subProperty of 'interacts' (itself sub 'acts'), 'interacts' carries
    a domain (Agent) and range (Event), and a 3-class/2-class hierarchy
    lifts the derived types — exercising rdfs2/3/5/7/9/11 in one op."""
    from rdf_indexes_spark.functions.ranking import _literal_df
    from rdf_indexes_spark.operators.schema import rhodf_entailment

    ev = _read(spark, sf_dir, "events")
    sp_edges = (
        ev.select(F.col("event_type").alias("s")).distinct()
        .select("s", F.lit("sp").alias("p"), F.lit("interacts").alias("o"))
    )
    schema_rows = _literal_df(
        spark,
        [
            ("interacts", "sp", "acts"),
            ("Agent", "sc", "LegalEntity"),
            ("LegalEntity", "sc", "Entity"),
            ("Event", "sc", "Happening"),
            ("interacts", "dom", "Agent"),
            ("interacts", "rng", "Event"),
        ],
        [("s", "string"), ("p", "string"), ("o", "string")],
    )
    inst = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("s"),
        F.col("event_type").alias("p"),
        F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("o"),
    )
    triples = sp_edges.unionByName(schema_rows).unionByName(inst)
    return rhodf_entailment(triples, "sc", "sp", "dom", "rng", "type")


def _q_sameas_smush(spark, sf_dir):
    """owl:sameAs smushing over a region-keyed identity graph: every
    nation asserts sameAs its region, so each region's nations form one
    equivalence class; customer/supplier facts and the nation→region
    membership triples rewrite onto the class minimum (membership rows
    collapse to one self-loop per class — the dedup surface)."""
    from rdf_indexes_spark.operators.canonicalize import smush

    n = _read(spark, sf_dir, "nation")
    c = _read(spark, sf_dir, "customer")
    s = _read(spark, sf_dir, "supplier")
    nk = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    rk = F.concat(F.lit("r"), F.col("n_regionkey").cast("string"))
    triples = (
        n.select(nk.alias("s"), F.lit("sameAs").alias("p"), rk.alias("o"))
        .unionAll(n.select(nk.alias("s"), F.lit("in_region").alias("p"), rk.alias("o")))
        .unionAll(
            c.select(
                F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("s"),
                F.lit("in_nation").alias("p"),
                F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("o"),
            )
        )
        .unionAll(
            s.select(
                F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("s"),
                F.lit("in_nation").alias("p"),
                F.concat(F.lit("n"), F.col("s_nationkey").cast("string")).alias("o"),
            )
        )
    )
    return smush(triples, "sameAs")


def _q_fact_history(spark, sf_dir):
    """SCD-2 belief revision over the events assertion stream: per
    (user, event_type) key, the compressed run history of props values
    with half-open validity intervals (epochs surfaced for the hash)."""
    from rdf_indexes_spark.operators.schema import fact_history

    ev = _read(spark, sf_dir, "events").select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("s"),
        F.col("event_type").alias("p"),
        F.col("props").alias("o"),
        "ts",
    )
    out = fact_history(ev)
    return out.select(
        "s", "p", "o",
        F.unix_timestamp("valid_from").alias("from_epoch"),
        F.unix_timestamp("valid_to").alias("to_epoch"),
        "version",
    )


def _q_current_facts(spark, sf_dir):
    """The matching current-belief snapshot (one max_by aggregate)."""
    from rdf_indexes_spark.operators.schema import current_facts

    ev = _read(spark, sf_dir, "events").select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("s"),
        F.col("event_type").alias("p"),
        F.col("props").alias("o"),
        "ts",
    )
    out = current_facts(ev)
    return out.select(
        "s", "p", "o", F.unix_timestamp("as_of").alias("as_of_epoch")
    )


def _events_agent_transcript(spark, sf_dir):
    """Events → agent-transcript analogue WITH tool + ts columns:
    purchase events act as tool calls (tool = props), others as plain
    dialogue turns."""
    ev = _read(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        F.when(F.col("event_type").isin("click", "view"), "user")
        .when(F.col("event_type") == "purchase", "tool")
        .otherwise("assistant")
        .alias("role"),
        F.col("props").alias("text"),
        F.when(F.col("event_type") == "purchase", F.col("props")).alias("tool"),
        "ts",
    )


def _q_conversation_stats(spark, sf_dir):
    """Per-conversation census over the events-derived agent
    transcript."""
    from rdf_indexes_spark.operators.dialogue import conversation_stats

    return conversation_stats(_events_agent_transcript(spark, sf_dir))


def _q_tool_stats(spark, sf_dir):
    """Per-tool usage census over the same derived transcript."""
    from rdf_indexes_spark.operators.dialogue import tool_stats

    return tool_stats(_events_agent_transcript(spark, sf_dir))


def _q_asof_join(spark, sf_dir):
    """Backward as-of join: each click/view event picks up the user's
    latest purchase at or before it (build side pre-aggregated to
    unique (user, ts) so every engine's tie rule agrees)."""
    from rdf_indexes_spark.operators.temporal import asof_join

    ev = _read(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", "ts", "event_id"
    )
    build = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("props").alias("props"))
    )
    out = asof_join(probe, build, on=["user_id"])
    return out.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("probe_epoch"),
        F.unix_timestamp("ts_r").alias("match_epoch"),
        F.col("props_r").alias("props_r"),
    )


def _q_fact_as_of(spark, sf_dir):
    """Point-in-time KG snapshot at 2024-01-10: fact_history intervals
    filtered to the cut — must equal the latest-assertion-before-cut
    snapshot the oracle computes directly."""
    from rdf_indexes_spark.operators.schema import fact_history
    from rdf_indexes_spark.operators.temporal import fact_as_of

    ev = _read(spark, sf_dir, "events").select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("s"),
        F.col("event_type").alias("p"),
        F.col("props").alias("o"),
        "ts",
    )
    return fact_as_of(fact_history(ev), "2024-01-10 00:00:00")


def _q_interval_join(spark, sf_dir):
    """Range join composed with sessionize: assign every event back to
    the 30-minute-gap session interval that contains it."""
    from rdf_indexes_spark.operators.dialogue import sessionize
    from rdf_indexes_spark.operators.temporal import interval_point_join

    ev = _read(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    sess = sessionize(
        ev.select("user_id", "ts"), key_col="user_id", ts_col="ts", gap="30 minutes"
    )
    pts = ev.select("user_id", "event_id", F.unix_timestamp("ts").alias("t"))
    return interval_point_join(
        pts, sess, "t", "session_start_s", "session_last_s",
        on=["user_id"], bin_width=600,
    )


def _q_time_rollup(spark, sf_dir):
    """Hour+day hypertable rollup of the events stream per event type,
    value summed in exact hundredths — one grouping-sets pass."""
    from rdf_indexes_spark.operators.temporal import time_rollup

    ev = _read(spark, sf_dir, "events")
    return time_rollup(
        ev, key_cols=["event_type"], value_col="value",
        resolutions=("hour", "day"),
    )


def _q_exact_quantiles(spark, sf_dir):
    """Exact nearest-rank quantiles of the event value distribution
    (values in exact hundredths; integer-only rank arithmetic)."""
    from rdf_indexes_spark.functions.ranking import exact_quantiles

    ev = _read(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("v100")
    )
    return exact_quantiles(ev, "v100", permille=(10, 250, 500, 900, 990, 999))


def _q_validate_turns(spark, sf_dir):
    """Chat-format hygiene validation over an events-derived
    pseudo-transcript (conv = user, turn_idx = event_id % 13 — dirty by
    construction: duplicates, gaps, late starts; role folded from the
    event type). Exercises every counter and the tiebreak ordering."""
    from rdf_indexes_spark.operators.dialogue import validate_turns

    ev = _read(spark, sf_dir, "events")
    pseudo = ev.select(
        F.col("user_id").alias("conv_id"),
        (F.col("event_id") % 13).alias("turn_idx"),
        F.when(F.col("event_type").isin("click", "view"), "user")
        .otherwise("assistant")
        .alias("role"),
        "event_id",
    )
    return validate_turns(pseudo, tiebreak_col="event_id")


def _q_merge_consecutive_roles(spark, sf_dir):
    """Repair pass for the role-repeat violations validate_turns counts:
    the same dirty events-derived pseudo-transcript, with consecutive
    same-role turns merged into one turn (texts joined in (idx,
    tiebreak) order) and blocks reindexed contiguously from 0."""
    from rdf_indexes_spark.operators.dialogue import merge_consecutive_roles

    ev = _read(spark, sf_dir, "events")
    pseudo = ev.select(
        F.col("user_id").alias("conv_id"),
        (F.col("event_id") % 13).alias("turn_idx"),
        F.when(F.col("event_type").isin("click", "view"), "user")
        .otherwise("assistant")
        .alias("role"),
        F.col("event_type").alias("text"),
        "event_id",
    )
    return merge_consecutive_roles(pseudo, tiebreak_col="event_id")


def _q_sessionize(spark, sf_dir):
    """Gap-based sessionization of the events stream per user (30-minute
    gap) via the native session_window; the oracle replays it as the
    classic gaps-and-islands window SQL. Epoch-second bounds, floored
    AFTER aggregation (boundaries decided at full precision)."""
    from rdf_indexes_spark.operators.dialogue import sessionize

    ev = _read(spark, sf_dir, "events").select("user_id", "ts")
    return sessionize(ev, key_col="user_id", ts_col="ts", gap="30 minutes")


def _q_pack_sequences(spark, sf_dir):
    """Sequence packing: contiguous token-budget bins over stable corpus
    order via the distributed two-phase prefix sum."""
    from rdf_indexes_spark.operators.textops import pack_sequences

    return pack_sequences(_read(spark, sf_dir, "documents"), target_tokens=500)


def _q_bm25(spark, sf_dir):
    """BM25 search for a fixed 3-term query; order-free exact-integer
    scoring contract (per-term floor, see textops.bm25_search) so the
    DuckDB twin reproduces every score bit-for-bit."""
    from rdf_indexes_spark.operators.textops import bm25_search

    return bm25_search(
        _read(spark, sf_dir, "documents"), ["scan", "join", "merge"], k=10
    )


def _q_top_terms(spark, sf_dir):
    """Per-doc tf-idf keywords (linear idf — exact integer score both
    engines replay; see operators/textops.top_terms)."""
    from rdf_indexes_spark.operators.textops import top_terms

    return top_terms(_read(spark, sf_dir, "documents"), k=5)


def _q_c4_filter(spark, sf_dir):
    """C4 heuristic cleaning (Raffel et al. 2020 §2.2): line-level
    terminal-punctuation / ≥3-word / no-javascript rules, page-level
    brace / min-surviving-lines rules; emits the cleaned text so the
    kept corpus needs no second pass. The synthetic documents carry no
    sentence punctuation, so the wrapper derives line structure with
    literal (non-regex) replaces — identical semantics in both engines —
    making every rule fire at gate scale."""
    from rdf_indexes_spark.operators.textops import c4_clean

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(
            F.replace(
                F.replace(F.col("text"), F.lit(" table "), F.lit(" table.\n")),
                F.lit(" window "),
                F.lit(" javascript window "),
            ),
            F.lit(" hash "),
            F.lit(" { hash "),
        ).alias("text"),
    )
    return c4_clean(docs)


def _q_gopher_filter(spark, sf_dir):
    """Composed Gopher rule set (Rae et al. 2021 §A1.1) over the quality
    and repetition signal frames: keep/drop + fixed-order failure
    reasons per document."""
    from rdf_indexes_spark.operators.textops import gopher_filter

    return gopher_filter(_read(spark, sf_dir, "documents"))


def _q_hash_sample(spark, sf_dir):
    """Deterministic hash sample at rate 0.25: each doc's fate is a pure
    function of doc_id (reproducible across runs/engines/layouts)."""
    from rdf_indexes_spark.operators.sampling import hash_sample

    docs = _read(spark, sf_dir, "documents")
    return hash_sample(docs, 0.25).select("doc_id", "source")


def _q_mixture_sample(spark, sf_dir):
    """Mixture resampling toward lang shares en:0.5 fr:0.25 de:0.25 —
    per-stratum rates derived from one count agg (most over-demanded
    stratum taken whole), fate decided by the portable per-key hash."""
    from rdf_indexes_spark.operators.sampling import mixture_sample

    docs = _read(spark, sf_dir, "documents")
    return mixture_sample(
        docs, {"en": 0.5, "fr": 0.25, "de": 0.25}, stratum_col="lang"
    ).select("doc_id", "lang")


def _q_split_corpus(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test assignment — cumulative
    variate intervals, leakage-stable under corpus growth."""
    from rdf_indexes_spark.operators.sampling import split_corpus

    docs = _read(spark, sf_dir, "documents")
    return split_corpus(
        docs, {"train": 0.9, "val": 0.05, "test": 0.05}
    ).select("doc_id", "split")


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: 3-gram overlap of the training shard
    (doc_id % 19 != 0) against the benchmark shard (doc_id % 19 == 0).
    Gram keys are xxhash64 longs (the production scale path — the
    oracle joins on raw gram strings; equality holds barring a 2^-64
    collision); benchmark side broadcast, corpus text never shuffles."""
    from rdf_indexes_spark.operators.contamination import decontaminate

    docs = _read(spark, sf_dir, "documents")
    return decontaminate(
        docs.filter(F.col("doc_id") % 19 != 0),
        docs.filter(F.col("doc_id") % 19 == 0),
        n=3,
    )


def _q_kg_pagerank(spark, sf_dir):
    """Entity salience: PageRank over the customer→nation→region /
    supplier→nation membership graph (node spaces disambiguated by
    offset, mirroring the KG's per-role id spaces). Rows-only: the
    operator is iterative float power iteration — pytest pins it
    against a numpy oracle and closed-form symmetric cases."""
    from rdf_indexes_spark.operators.graph import pagerank

    cust = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("src"),
        (F.col("c_nationkey").cast("long") + F.lit(10**9)).alias("dst"),
    )
    supp = _read(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey").cast("long") + F.lit(2 * 10**9)).alias("src"),
        (F.col("s_nationkey").cast("long") + F.lit(10**9)).alias("dst"),
    )
    nat = _read(spark, sf_dir, "nation").select(
        (F.col("n_nationkey").cast("long") + F.lit(10**9)).alias("src"),
        (F.col("n_regionkey").cast("long") + F.lit(3 * 10**9)).alias("dst"),
    )
    return pagerank(cust.union(supp).union(nat), iterations=10)


def _q_kg_link_prediction(spark, sf_dir):
    """KG-completion candidates over the customer–part co-purchase graph
    (2% order sample; part keys folded to 499 slots and offset past the
    custkey space so the graph stays bipartite). Gate columns are the
    EXACT-INTEGER scores only — aa/ra/jaccard are sum-order-dependent
    floats by design (operators/graph.link_prediction docstring)."""
    from rdf_indexes_spark.operators.graph import link_prediction

    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    e = (
        li.filter(F.col("l_orderkey") % 50 == 0)
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(1_000_000) + F.col("l_partkey") % 499).alias("dst"),
        )
    )
    return link_prediction(e, max_center_degree=200).select(
        "x", "y", "cn", "deg_x", "deg_y", "n_union"
    )


def _q_kg_weighted_distances(spark, sf_dir):
    """Hop-bounded weighted shortest distances over the 2%-sampled
    folded part→supplier graph, edge cost = cheapest quantity; seeds are
    slots 0 and 1 (dist-0 rows exist even if a slot is isolated). Small
    integer costs keep the oracle CTE's dedup'd state space bounded."""
    from rdf_indexes_spark.operators.graph import weighted_distances

    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    e = li.select(
        (F.col("l_partkey") % 499).alias("src"),
        (F.col("l_suppkey") % 499).alias("dst"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    from rdf_indexes_spark.functions.ranking import _literal_df

    seeds = _literal_df(spark, [(0,), (1,)], [("node", "long")])
    return weighted_distances(e, seeds, max_hops=3)


def _q_kg_personalized_pagerank(spark, sf_dir):
    """Seed-relatedness ranks over the folded part→supplier graph
    (rows-only like kg_pagerank: iterative float fixpoint; the exact
    python-model oracle lives in tests/test_graph.py)."""
    from rdf_indexes_spark.operators.graph import personalized_pagerank

    li = _read(spark, sf_dir, "lineitem")
    e = li.select(
        (F.col("l_partkey") % 499).alias("src"),
        (F.col("l_suppkey") % 499).alias("dst"),
    )
    return personalized_pagerank(e, sources=[0, 1], iterations=8)


def _q_kg_random_walks(spark, sf_dir):
    """Deterministic DeepWalk corpus over the folded part→supplier graph
    (both key spaces folded into 0..498 so supplier slots have out-edges
    too and walks actually chain). Every step is affine-hash arithmetic
    over the 31-bit Mersenne prime — the oracle replays the walks
    value-for-value with a recursive CTE."""
    from rdf_indexes_spark.operators.graph import random_walks

    li = _read(spark, sf_dir, "lineitem")
    e = li.select(
        (F.col("l_partkey") % 499).alias("src"),
        (F.col("l_suppkey") % 499).alias("dst"),
    )
    return random_walks(e, num_walks=2, walk_length=6).select(
        "walk_id", F.col("step").cast("long").alias("step"), "node"
    )


def _q_kg_triangles(spark, sf_dir):
    """Per-node triangle counts over a deterministic entity co-occurrence
    graph (order/part keys folded into one 9973-node space). Exercises
    the degree-ordered orientation: the mod creates genuine hubs, whose
    wedge fan-out the orientation bounds to O(sqrt(m))."""
    from rdf_indexes_spark.operators.graph import triangle_count

    li = _read(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 9973).alias("src"),
        (F.col("l_partkey") % 9973).alias("dst"),
    )
    return triangle_count(edges).select(
        "node", F.col("triangles").cast("long").alias("triangles")
    )


def _q_kg_clustering(spark, sf_dir):
    """Local clustering profile (degree, triangles, wedges — exact
    integers) over the same folded entity co-occurrence graph as
    kg_triangles; triangle-free nodes still emit their degree row."""
    from rdf_indexes_spark.operators.graph import clustering_profile

    li = _read(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 9973).alias("src"),
        (F.col("l_partkey") % 9973).alias("dst"),
    )
    return clustering_profile(edges)


def _q_kg_kcore(spark, sf_dir):
    """k-core pruning of the folded entity co-occurrence graph (k=4):
    iterative synchronous peeling — rows-only at the driver gate (the
    fixpoint is not SQL-expressible); exact brute-force oracle in
    tests/test_graph.py."""
    from rdf_indexes_spark.operators.graph import k_core

    li = _read(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 9973).alias("src"),
        (F.col("l_partkey") % 9973).alias("dst"),
    )
    return k_core(edges, k=4)


def _q_kg_communities(spark, sf_dir):
    """Deterministic label-propagation communities over the same folded
    entity graph as kg_kcore — rows-only at the driver gate (iterative
    fixpoint); exact python-model parity oracle in tests/test_graph.py."""
    from rdf_indexes_spark.operators.graph import label_propagation

    li = _read(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 9973).alias("src"),
        (F.col("l_partkey") % 9973).alias("dst"),
    )
    return label_propagation(edges)


def _twin_clique_nodes(spark, sf_dir):
    """Deterministic disjoint-clique node frame over ranked customer
    keys: ranks cycle through a 14-node period split into cliques of
    sizes 2/3/4/5, so clique membership — and every closed form the
    graph twins below rely on — is pure modular arithmetic both engines
    replay identically. The single-partition rank window is
    oracle-parity-only plumbing (the production graph operators take
    arbitrary edge frames; cf. _portable_token_ids), bounded by the
    customer table (15k rows at sf0.1). Returns (id, g)."""
    from pyspark.sql import Window

    cust = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("id")
    )
    r = (F.row_number().over(Window.orderBy("id")) - 1).cast("long")
    nodes = cust.select("id", r.alias("r"))
    o = F.col("r") % 14
    sub = F.when(o < 2, 0).when(o < 5, 1).when(o < 9, 2).otherwise(3)
    return nodes.select(
        "id", ((F.col("r") / 14).cast("long") * 4 + sub).alias("g")
    )


def _twin_clique_edges(g):
    """All within-clique pairs (src < dst) of the _twin_clique_nodes
    frame — the edge list the real iterative operators run on."""
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(b, "g")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
    )


# the clique layout + per-clique size/min, shared by the graph-twin
# oracles (DuckDB side of _twin_clique_nodes)
_TWIN_CLIQUE_SQL = (
    "n AS (SELECT CAST(c_custkey AS BIGINT) AS id, "
    "CAST(row_number() OVER (ORDER BY CAST(c_custkey AS BIGINT)) - 1 AS BIGINT) AS r "
    "FROM customer), "
    "cl AS (SELECT id, (r // 14) * 4 + (CASE WHEN r % 14 < 2 THEN 0 "
    "WHEN r % 14 < 5 THEN 1 WHEN r % 14 < 9 THEN 2 ELSE 3 END) AS g FROM n), "
    "sz AS (SELECT g, COUNT(*) AS cnt, MIN(id) AS mn FROM cl GROUP BY g)"
)


def _q_kg_kcore_oracle(spark, sf_dir):
    """ORACLE-CHECKED k-core (the real synchronous-peeling operator,
    graph.py:k_core, on the deterministic disjoint-clique graph): a
    size-s clique is (s-1)-regular, so peeling at k=3 removes the
    size-2/3 cliques whole in round one and keeps the size-4/5 cliques
    untouched — the closed form (keep iff clique size >= 4) is one SQL
    group count. Pins the peel loop's convergence, anti-join pruning,
    and node output contract; adversarial cascading-peel graphs live in
    tests/test_graph.py. kg_kcore stays the rows-only production key."""
    from rdf_indexes_spark.operators.graph import k_core

    return k_core(_twin_clique_edges(_twin_clique_nodes(spark, sf_dir)), k=3)


def _q_kg_communities_oracle(spark, sf_dir):
    """ORACLE-CHECKED label propagation (the real synchronous LPA with
    deterministic min-tie-break, graph.py:label_propagation, on the
    clique graph): within a clique every first-round vote ties at count
    1, the min tie-break elects the clique's smallest id everywhere at
    once, and round two confirms the fixpoint — closed form: community
    = MIN(id) per clique (cliques of size >= 2; singletons carry no
    edges). Pins the vote/tie/convergence semantics end-to-end;
    kg_communities stays the rows-only production key."""
    from rdf_indexes_spark.operators.graph import label_propagation

    lp = label_propagation(_twin_clique_edges(_twin_clique_nodes(spark, sf_dir)))
    return lp.select(F.col("n").alias("node"), "community")


def _q_kg_pagerank_oracle(spark, sf_dir):
    """ORACLE-CHECKED PageRank (the real power-method operator,
    graph.py:pagerank, on a deterministic directed ring over ranked
    customer keys): a 1-in/1-out-regular graph's rank vector is uniform
    at EVERY iteration — teleport and link mass cancel exactly — so the
    closed form is round(1e9/n) per node, independent of damping and
    iteration count up to ulp drift the 1e9 quantization absorbs (1e9/n
    never lands near a .5 boundary for the driver's customer counts).
    Pins mass conservation, the out-degree normalization join, and the
    empty dangling branch; sharp numeric parity (numpy power iteration,
    dangling redistribution) lives in tests/test_graph.py. kg_pagerank
    stays the rows-only production key."""
    from pyspark.sql import Window

    from rdf_indexes_spark.operators.graph import pagerank

    cust = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("id")
    )
    r = (F.row_number().over(Window.orderBy("id")) - 1).cast("long")
    nodes = cust.select("id", r.alias("r"))
    n = nodes.count()
    e = (
        nodes.select(F.col("id").alias("src"), ((F.col("r") + 1) % n).alias("rn"))
        .join(nodes.select(F.col("r").alias("rn"), F.col("id").alias("dst")), "rn")
        .select("src", "dst")
    )
    pr = pagerank(e, iterations=10)
    return pr.select(
        "node", F.round(F.col("rank") * 1e9).cast("long").alias("pr_x1e9")
    )


def _q_kg_negative_samples(spark, sf_dir):
    """Filtered object-corruption negatives (2 per triple) over a
    lineitem-folded triple set — deterministic affine-hash draws."""
    from rdf_indexes_spark.operators.sampling import negative_samples

    li = _read(spark, sf_dir, "lineitem")
    t = li.select(
        (F.col("l_orderkey") % 9973).alias("s"),
        F.col("l_linenumber").cast("long").alias("p"),
        (F.col("l_partkey") % 9973).alias("o"),
    )
    return negative_samples(t, n_neg=2)


def _q_kg_cooccurrence(spark, sf_dir):
    """Entity co-occurrence PMI signals over document tokens: for every
    unordered token pair, the documents containing both + marginals +
    the document total, all exact integers (PMI's log left to the
    consumer). Presence counting — within-doc duplicates collapse."""
    from rdf_indexes_spark.operators.graph import cooccurrence_counts

    docs = _read(spark, sf_dir, "documents")
    items = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        F.col("doc_id").alias("group_id"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("item"),
    )
    return cooccurrence_counts(items)


def _q_decontaminate_spans(spark, sf_dir):
    """Span-level decontamination: cut exactly the token positions
    covered by benchmark-overlapping 3-grams, keep the rest. Same
    corpus/benchmark shards and hashed-gram scale path as
    `decontaminate`."""
    from rdf_indexes_spark.operators.contamination import (
        remove_contaminated_spans,
    )

    docs = _read(spark, sf_dir, "documents")
    return remove_contaminated_spans(
        docs.filter(F.col("doc_id") % 19 != 0),
        docs.filter(F.col("doc_id") % 19 == 0),
        n=3,
    )


def _cc_edges(spark, sf_dir):
    """Deterministic membership graph shared by cc_components and its
    oracle: customer—nation, supplier—nation, nation—region (node
    spaces offset like kg_pagerank). 5 components, one per region."""
    cust = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("a"),
        (F.col("c_nationkey").cast("long") + F.lit(10**9)).alias("b"),
    )
    supp = _read(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey").cast("long") + F.lit(2 * 10**9)).alias("a"),
        (F.col("s_nationkey").cast("long") + F.lit(10**9)).alias("b"),
    )
    nat = _read(spark, sf_dir, "nation").select(
        (F.col("n_nationkey").cast("long") + F.lit(10**9)).alias("a"),
        (F.col("n_regionkey").cast("long") + F.lit(3 * 10**9)).alias("b"),
    )
    return cust.union(supp).union(nat)


def _q_cc_components(spark, sf_dir):
    """The canonicalization core as an oracle-checked query: min-label
    connected components over the membership graph. The DuckDB twin is a
    recursive reachability CTE + min label — exact equality, not just
    component counts."""
    from rdf_indexes_spark.operators.canonicalize import connected_components

    return connected_components(_cc_edges(spark, sf_dir).localCheckpoint())


def _q_sample_weighted(spark, sf_dir):
    """Quality-weighted sampling: acceptance probability = the doc's
    length-derived score least(n_chars/1000, 1) — kept iff the per-key
    variate is below it."""
    from rdf_indexes_spark.operators.sampling import weighted_sample

    docs = _read(spark, sf_dir, "documents").withColumn(
        "w", F.least(F.col("n_chars") / F.lit(1000.0), F.lit(1.0))
    )
    return weighted_sample(docs, "w").select("doc_id")


def _q_sample_upsampled(spark, sf_dir):
    """Weighted multiplicity (data-mixing up-sampling): each doc appears
    floor(w)+Bernoulli(frac(w)) times, w = 1 + (doc_id % 3)/2 — exact
    expectation, deterministic per key, copy_idx distinguishes repeats."""
    from rdf_indexes_spark.operators.sampling import upsample

    docs = _read(spark, sf_dir, "documents").withColumn(
        "w", F.lit(1.0) + (F.col("doc_id") % 3) / F.lit(2.0)
    )
    return upsample(docs, "w").select("doc_id", F.col("copy_idx").cast("long").alias("copy_idx"))


def _q_text_normalize(spark, sf_dir):
    """Canonical text prep: NFC (Arrow pandas_udf — Spark has no
    built-in) + control-strip + whitespace collapse + trim, replayed
    by DuckDB nfc_normalize + RE2."""
    from rdf_indexes_spark.operators.textops import normalize_text

    return normalize_text(_read(spark, sf_dir, "documents"))


def _q_mixture_report(spark, sf_dir):
    """Corpus-composition report per source: docs / tokens / chars /
    mean_chars — the numbers a mixture decision is made from."""
    from rdf_indexes_spark.operators.sampling import mixture_report

    return mixture_report(_read(spark, sf_dir, "documents"), ["source"])


def _q_semantic_dedup(spark, sf_dir):
    """SemDeDup survivors: k-means coarse clusters, exact cosine pairs
    within each cluster, one kept id per duplicate component. Rows-only
    (the quantizer is iterative k-means, not SQL-expressible); pytest
    pins n_clusters=1 == the oracle-checked global near-dup keep, plus
    precision/recall on tight synthetic clusters."""
    from rdf_indexes_spark.operators.similarity import semantic_dedup

    return semantic_dedup(
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")),
        threshold=0.4,
        n_clusters=8,
    )


def _q_semantic_dedup_oracle(spark, sf_dir):
    """ORACLE-CHECKED SemDeDup end-to-end at n_clusters=1: the real
    operator (coarse quantizer, block-split pair matmuls, distributed-CC
    survivor keep) degenerates to the global exact-cosine near-dup keep,
    which DuckDB replays as all-pairs threshold + recursive-CTE
    connected components + min-id survivors. The kept-id output is pure
    integers; the 0.4 threshold sits far from every pair's cosine in
    this corpus, so BLAS-vs-SQL summation order cannot flip a pair (the
    r02-green dedup_embedding_cosine twin's robustness argument).
    Block-split invariance and multi-cluster precision/recall are
    pinned in tests/test_new_ops.py; semantic_dedup (n_clusters=8)
    stays the rows-only production key."""
    from rdf_indexes_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return semantic_dedup(emb, threshold=0.4, n_clusters=1)


def _q_ann_pq_oracle(spark, sf_dir):
    """ORACLE-CHECKED PQ top-k (the real encode + ADC-scan + re-rank
    machinery of similarity.py:pq_topk, with the k-means trainer
    replaced by an injected codebook — the minhash-twin pattern):
    vectors are floor-quantized to integer-valued doubles and the
    codebook is the sub-vectors of the 8 lowest-id vectors, so every
    subspace encode distance and every ADC score is an exact integer
    DuckDB recomputes bit-for-bit in any summation order; candidate
    selection (per-query top k*overscan, ADC desc / id asc) and the
    exact-cosine re-rank order then match value-for-value. The corpus
    rides one partition so the partition-local candidate cap equals the
    oracle's global cap. Trained-path recall is pinned in
    tests/test_new_ops.py; ann_pq_topk stays the rows-only key."""
    import numpy as np

    from rdf_indexes_spark.operators.similarity import pq_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qv = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * 1000).cast("double"),
        ).alias("embedding"),
    )
    anchors = qv.orderBy("vec_id").limit(8).collect()
    flat = np.array([r["embedding"] for r in anchors], dtype=np.float64)
    # the oracle SQL hardcodes dim 64 (range(0, 64)) and subspace width 8
    if flat.shape[1] != 64:
        raise ValueError(f"ann_pq_topk_oracle assumes dim 64, got {flat.shape[1]}")
    m = 8
    dsub = flat.shape[1] // m
    books = np.stack([flat[:, j * dsub : (j + 1) * dsub] for j in range(m)])
    qids = [r["vec_id"] for r in anchors[:5]]
    queries_df = qv.filter(F.col("vec_id").isin(qids))
    return pq_topk(
        qv.repartition(1), queries_df, k=5, overscan=4, books=books, normalize=False
    ).select("query_id", "neighbor_id", "rank")


def _q_a7_querylog(spark, sf_dir):
    """Batched querylog execution over a PORTABLE sample: the first 20
    triples in (s,p,o) order, wildcard-stamped in a fixed 5-pattern cycle —
    fully replayable by the ANSI oracle (row_number OVER (ORDER BY s,p,o) +
    a qid%5 CASE join). Pseudo-random (xxhash64) sampling stays available
    for the latency bench; router-equality is additionally asserted in
    tests/test_new_ops.py."""
    from rdf_indexes_spark.plans import querylog as ql

    t = _derived_triples(spark, sf_dir)
    tables = {name: t for name in ("spo", "pos", "osp", "ops", "pso")}
    samples = ql.sample_querylog(t, n=20, order="sorted")
    pats = [
        ql.stamp_wildcards(tr, perm, w)
        for tr, (perm, w) in zip(
            samples,
            [("spo", 0), ("spo", 1), ("spo", 2), ("pos", 1), ("pos", 2)] * 4,
        )
    ]
    return ql.run_querylog_batched(tables, pats)


def _q_b3_hash_ids(spark, sf_dir):
    """Rows-only: xxhash64 id mode (reference --hash, mmh3 there — hash
    family is engine-specific so no SQL oracle)."""
    from rdf_indexes_spark.operators.encode import build_vocab

    ev = _read(spark, sf_dir, "events").select(
        F.col("event_type").alias("cs"),
        F.lit("e").alias("pred"),
        F.lit("x").alias("co"),
        F.col("event_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit(0).cast("int").alias("mention_idx"),
    )
    return build_vocab(ev, "cs", hash_ids=True).select("term", "id")


def _q_f1_member_position(spark, sf_dir):
    """F1's full reference contract: is_member returns the triple's rank
    in SPO order (algorithms.hpp:280-298). Probes the min and max triples
    (positions 0 and n-1) plus an absent triple (-1)."""
    t = _derived_triples(spark, sf_dir)
    cur = F.struct(F.col("s"), F.col("p"), F.col("o"))
    probe_min = t.orderBy("s", "p", "o").limit(1).select(cur.alias("pr"))
    probe_max = t.orderBy(F.desc("s"), F.desc("p"), F.desc("o")).limit(1).select(cur.alias("pr"))
    out = None
    for tag, probe in (("min", probe_min), ("max", probe_max)):
        j = t.crossJoin(F.broadcast(probe))
        row = j.agg(
            F.coalesce(F.sum((cur < F.col("pr")).cast("long")), F.lit(0)).alias("before"),
            F.coalesce(F.max((cur == F.col("pr")).cast("int")), F.lit(0)).alias("found"),
        ).select(
            F.lit(tag).alias("probe"),
            F.when(F.col("found") == 1, F.col("before")).otherwise(F.lit(-1)).cast("long").alias("position"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _rank_parts(sf_dir: str) -> int:
    """Partitions-follow-data: the derived triple set is ~2.4M rows per
    sf unit; one ~300k-row range partition each, floor 8."""
    return max(8, int(_sf_of(sf_dir) * 80))


def _q_e5_rank_remap(spark, sf_dir):
    from rdf_indexes_spark.operators.permutations import rank_remap

    return rank_remap(_derived_triples(spark, sf_dir), num_partitions=_rank_parts(sf_dir))


def _q_e5_rank_decode(spark, sf_dir):
    """pef_r round-trip through the driver gate: remap POS subjects to
    OSP-relative ranks, then decode them back (rank_remap_decode) — the
    result must equal the triple set itself (oracle: SELECT s,p,o)."""
    from rdf_indexes_spark.operators.permutations import rank_remap, rank_remap_decode

    t = _derived_triples(spark, sf_dir)
    return rank_remap_decode(rank_remap(t, num_partitions=_rank_parts(sf_dir)), t)


def _q_d2_space_stats(spark, sf_dir):
    """Rows-only (byte sizes depend on parquet writer version/fs): write
    the unified permutation layout for the derived triples, report bpt."""
    from rdf_indexes_spark.operators.permutations import (
        space_stats,
        write_permutations_unified,
    )

    t = _derived_triples(spark, sf_dir)
    n = t.count()
    out = tempfile.mkdtemp(prefix="d2_")
    write_permutations_unified(t, out, num_partitions=8)
    return space_stats(spark, out, n)


_BGP_CONSTS_CACHE: dict[str, tuple[int, int, int]] = {}


def _bgp_consts(spark, sf_dir) -> tuple[int, int, int]:
    """Deterministic BGP constants: the two smallest predicates and the
    min object under p1 — same scalar-subquery definitions as the oracle."""
    if sf_dir not in _BGP_CONSTS_CACHE:
        t = _derived_triples(spark, sf_dir)
        p0 = int(t.agg(F.min("p")).first()[0])
        p1 = int(t.filter(F.col("p") > p0).agg(F.min("p")).first()[0])
        o0 = int(t.filter(F.col("p") == p1).agg(F.min("o")).first()[0])
        _BGP_CONSTS_CACHE[sf_dir] = (p0, p1, o0)
    return _BGP_CONSTS_CACHE[sf_dir]


def _q_bgp_chain(spark, sf_dir):
    """G1: two-pattern chain BGP (?x p0 ?y)(?y p1 ?z) — the conjunctive
    query surface beyond the reference's single patterns; joins route
    per-pattern through the permutation router."""
    from rdf_indexes_spark.plans.bgp import bgp_join

    t = _derived_triples(spark, sf_dir)
    tables = {name: t for name in ("spo", "pos", "osp", "ops", "pso")}
    p0, p1, _ = _bgp_consts(spark, sf_dir)
    return bgp_join(tables, [("?x", p0, "?y"), ("?y", p1, "?z")], project=["x", "y", "z"])


def _q_bgp_star(spark, sf_dir):
    """G2: star BGP (?x p0 ?y)(?x p1 o0) — the second pattern is a
    2-bound probe, exercising bgp_join's broadcast path."""
    from rdf_indexes_spark.plans.bgp import bgp_join

    t = _derived_triples(spark, sf_dir)
    tables = {name: t for name in ("spo", "pos", "osp", "ops", "pso")}
    p0, p1, o0 = _bgp_consts(spark, sf_dir)
    return bgp_join(tables, [("?x", p0, "?y"), ("?x", p1, o0)], project=["x", "y"])


def _q_sparql_chain(spark, sf_dir):
    """G3: the string-level SPARQL front-end over DELIBERATELY misaligned
    role id spaces (o-ids shifted by 10^7, so id-level joins match
    NOTHING): constants resolve through the vocabs, the cross-role ?y
    joins on TERMS, results decode to surface forms."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, p1, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f"SELECT ?x ?y ?z WHERE {{ ?x P{p0} ?y . ?y P{p1} ?z }}", tables, vocabs
    )


def _sparql_shifted_index(spark, sf_dir):
    """g3/g5/g6 shared setup: string vocabs over DELIBERATELY misaligned
    role id spaces (o-ids shifted by 10^7) — any id-level cross-role
    join matches NOTHING, so only term-correct semantics pass."""
    t = _derived_triples(spark, sf_dir)
    shift = 10_000_000
    vocabs = {
        "s": t.select(F.col("s").alias("id")).distinct().select(
            F.concat(F.lit("E"), F.col("id")).alias("term"), "id"
        ),
        "p": t.select(F.col("p").alias("id")).distinct().select(
            F.concat(F.lit("P"), F.col("id")).alias("term"), "id"
        ),
        "o": t.select((F.col("o") + shift).alias("id")).distinct().select(
            F.concat(F.lit("E"), F.col("id") - shift).alias("term"), "id"
        ),
    }
    enc = t.select("s", "p", (F.col("o") + shift).alias("o"))
    tables = {name: enc for name in ("spo", "pos", "osp", "ops", "pso")}
    return tables, vocabs


def _q_sparql_union(spark, sf_dir):
    """G5: UNION over the shifted-id index — ?x and ?y each span s- and
    o-roles ACROSS the two branches, so the bag union must align on
    decoded terms; duplicates (a pair produced by both branches) are
    kept, SPARQL multiset semantics (oracle: UNION ALL)."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, p1, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f"SELECT ?x ?y WHERE {{ {{ ?x P{p0} ?y }} UNION {{ ?y P{p1} ?x }} }}",
        tables,
        vocabs,
    )


def _q_sparql_exists(spark, sf_dir):
    """G6: FILTER NOT EXISTS over the shifted-id index — the shared ?y
    is an object outside and a subject inside, so the anti-join must
    compare TERMS across the independent id spaces."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, p1, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f"SELECT ?x ?y WHERE {{ ?x P{p0} ?y . FILTER NOT EXISTS {{ ?y P{p1} ?z }} }}",
        tables,
        vocabs,
    )


def _q_sparql_minus(spark, sf_dir):
    """G7: SPARQL 1.1 MINUS over the shifted-id index — the first MINUS
    shares ?y (an object outside, a subject inside: term-level anti-join
    across the independent id spaces); the second shares NO variable, so
    per the MINUS/NOT-EXISTS distinction it removes NOTHING (an engine
    that compiles MINUS as NOT EXISTS would empty the result)."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, p1, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f"SELECT ?x ?y WHERE {{ ?x P{p0} ?y . "
        f"MINUS {{ ?y P{p1} ?z }} MINUS {{ ?a P{p1} ?b }} }}",
        tables,
        vocabs,
    )


def _q_sparql_optional(spark, sf_dir):
    """G29: OPTIONAL left-join over the shifted-id index — every
    required solution survives; ?z is unbound (NULL) where the optional
    pattern finds no ?y match and multiplies per-match otherwise (bag
    semantics, oracle: LEFT JOIN). The shared ?y is an object outside
    and a subject inside, so the join must align TERMS across the
    independent id spaces (mirrors sparql.cpp-free reference semantics:
    /root/reference has no SPARQL engine; spec §8, left-join algebra)."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, p1, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f"SELECT ?x ?y ?z WHERE {{ ?x P{p0} ?y . OPTIONAL {{ ?y P{p1} ?z }} }}",
        tables,
        vocabs,
    )


def _q_sparql_bound(spark, sf_dir):
    """G30: functional forms over the OPTIONAL left join (SPARQL 1.1
    §17.4.1.1–.3): IF(BOUND(?z), UCASE(?z), "none") and COALESCE(?z, ?y)
    — branch selection and first-bound fallback evaluate per solution
    over the shifted-id index (unbound ?z on unmatched rows)."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, p1, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f"SELECT ?x ?w ?v WHERE {{ ?x P{p0} ?y . OPTIONAL {{ ?y P{p1} ?z }} "
        f'BIND(IF(BOUND(?z), UCASE(?z), "none") AS ?w) '
        f"BIND(COALESCE(?z, ?y) AS ?v) }}",
        tables,
        vocabs,
    )


def _q_sparql_values(spark, sf_dir):
    """G8: VALUES inline restriction — one listed term resolves through
    the s-vocab (pushed-down IN-scan + id semi-join), the other is absent
    from the vocabulary and must match nothing (not error)."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, _, _ = _bgp_consts(spark, sf_dir)
    t = _derived_triples(spark, sf_dir)
    s0 = int(t.filter(F.col("p") == p0).agg(F.min("s")).first()[0])
    return run_sparql(
        f"SELECT ?x ?y WHERE {{ ?x P{p0} ?y . VALUES ?x {{ E{s0} ENOSUCHTERM }} }}",
        tables,
        vocabs,
    )


def _q_sparql_path_seq(spark, sf_dir):
    """G9: sequence property path P0/P1 over the shifted-id index — hop
    composition runs in the unified node space (object ids bridge onto
    subject ids by term), so the result equals the term-level chain."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, p1, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f"SELECT ?x ?z WHERE {{ ?x P{p0}/P{p1} ?z }}", tables, vocabs
    )


def _q_sparql_path_alt_inv(spark, sf_dir):
    """G10: alternation of an INVERSE step with a forward step — bag
    semantics (SPARQL multiset alternation, oracle UNION ALL); the
    inverse leg exercises uid displacement for object-only terms."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, p1, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f"SELECT ?x ?y WHERE {{ ?x ^P{p0}|P{p1} ?y }}", tables, vocabs
    )


def _q_sparql_path_star(spark, sf_dir):
    """G11: zero-or-more path P0* — the p0 closure UNION the zero-length
    identity over EVERY graph term (SPARQL 1.1 zero-length semantics),
    duplicate-free."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, _, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f"SELECT ?x ?y WHERE {{ ?x P{p0}* ?y }}", tables, vocabs
    )


def _q_sparql_group_count(spark, sf_dir):
    """G12: SPARQL 1.1 aggregates — per-predicate COUNT(*) and
    COUNT(DISTINCT ?x) over the shifted-id index; group keys decode to
    terms before the hash aggregate (map-side partials free)."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    return run_sparql(
        "SELECT ?p (COUNT(*) AS ?n) (COUNT(DISTINCT ?x) AS ?nd) "
        "WHERE { ?x ?p ?y } GROUP BY ?p",
        tables,
        vocabs,
    )


def _q_sparql_min_max(spark, sf_dir):
    """G13: MIN/MAX aggregate over DECODED surface forms — 'E9' > 'E10'
    in codepoint order, so aggregating raw ids (or decoding after the
    aggregate) would hash-mismatch the oracle."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    return run_sparql(
        "SELECT ?p (MIN(?y) AS ?lo) (MAX(?y) AS ?hi) WHERE { ?x ?p ?y } "
        "GROUP BY ?p",
        tables,
        vocabs,
    )


def _q_sparql_having(spark, sf_dir):
    """G14: HAVING over a COUNT alias — post-aggregation numeric filter;
    the threshold is the same total//10 scalar the oracle derives."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    thr = _derived_triples(spark, sf_dir).count() // 10
    return run_sparql(
        f"SELECT ?p (COUNT(*) AS ?n) WHERE {{ ?x ?p ?y }} GROUP BY ?p "
        f"HAVING ( ?n > {thr} )",
        tables,
        vocabs,
    )


def _q_sparql_group_concat(spark, sf_dir):
    """G15: GROUP_CONCAT in pinned codepoint order (string_agg ORDER BY
    twin) — per-subject concatenation of decoded object terms."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, _, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f'SELECT ?x (GROUP_CONCAT(?y ; SEPARATOR = ",") AS ?g) '
        f"WHERE {{ ?x P{p0} ?y }} GROUP BY ?x",
        tables,
        vocabs,
    )


def _q_sparql_nps(spark, sf_dir):
    """G16: negated property set !(P0|P1) — every edge whose predicate
    is neither, bag semantics, endpoints decoded through the unified
    node space."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, p1, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f"SELECT ?x ?y WHERE {{ ?x !(P{p0}|P{p1}) ?y }}", tables, vocabs
    )


def _q_sparql_paging(spark, sf_dir):
    """G17: DESC/ASC mixed ORDER BY + OFFSET/LIMIT paging — the (x desc,
    y asc) key is unique over the distinct pair set, so both engines pick
    the identical slice."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, _, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f"SELECT ?x ?y WHERE {{ ?x P{p0} ?y }} "
        "ORDER BY DESC(?x) ?y OFFSET 10 LIMIT 100",
        tables,
        vocabs,
    )


def _q_sparql_construct(spark, sf_dir):
    """G18: CONSTRUCT — instantiate two template triples (one reversed,
    both with minted predicates) per term-level chain solution; the
    result graph is a duplicate-free (s, p, o) string frame."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, p1, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f"CONSTRUCT {{ ?x linked ?z . ?z linkedBy ?x }} "
        f"WHERE {{ ?x P{p0} ?y . ?y P{p1} ?z }}",
        tables,
        vocabs,
    )


def _sparql_numeric_index(spark, sf_dir):
    """g19/g22 setup: the shifted-id index, but OBJECT terms are plain
    digit strings (the raw id) — except ids divisible by 7, which decode
    to a non-numeric 'X<id>' so the SPARQL numeric type-error rules are
    exercised (SUM/AVG unbind, ordering filters drop)."""
    t = _derived_triples(spark, sf_dir)
    shift = 10_000_000
    raw = F.col("id") - shift
    vocabs = {
        "s": t.select(F.col("s").alias("id")).distinct().select(
            F.concat(F.lit("E"), F.col("id")).alias("term"), "id"
        ),
        "p": t.select(F.col("p").alias("id")).distinct().select(
            F.concat(F.lit("P"), F.col("id")).alias("term"), "id"
        ),
        "o": t.select((F.col("o") + shift).alias("id")).distinct().select(
            F.when(raw % 7 != 0, raw.cast("string"))
            .otherwise(F.concat(F.lit("X"), raw.cast("string")))
            .alias("term"),
            "id",
        ),
    }
    enc = t.select("s", "p", (F.col("o") + shift).alias("o"))
    tables = {name: enc for name in ("spo", "pos", "osp", "ops", "pso")}
    return tables, vocabs


def _q_sparql_sum_avg(spark, sf_dir):
    """G19: SUM/AVG aggregates with SPARQL numeric semantics over string
    terms — integer terms keep doubles exact (cross-engine identical), a
    group containing a non-numeric 'X…' term unbinds BOTH aggregates."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_numeric_index(spark, sf_dir)
    out = run_sparql(
        "SELECT ?p (SUM(?y) AS ?t) (AVG(?y) AS ?m) WHERE { ?x ?p ?y } GROUP BY ?p",
        tables,
        vocabs,
    )
    # unbound aggregates come back NULL; coalesce to a sentinel AFTER the
    # SPARQL evaluation so the emitted frame is NaN-free (NaN rows defeat
    # any order-insensitive value compare — sorting tuples with NaN is
    # order-unstable). The oracle applies the same COALESCE.
    return out.na.fill({"t": -1.0, "m": -1.0})


def _q_sparql_bind(spark, sf_dir):
    """G20: BIND(CONCAT(...)) — derived term column over decoded
    endpoints of the min-predicate's edges (bag semantics)."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, _, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f'SELECT ?k WHERE {{ ?x P{p0} ?y . BIND(CONCAT(?x, "->", ?y) AS ?k) }}',
        tables,
        vocabs,
    )


def _q_sparql_describe(spark, sf_dir):
    """G21: DESCRIBE a term that occurs as BOTH a subject and an object
    (the smallest such id) — the role probes union and dedup; triples
    decode to surface forms."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    t = _derived_triples(spark, sf_dir)
    r = (
        t.select("s")
        .join(t.select(F.col("o").alias("s")), "s", "left_semi")
        .agg(F.min("s"))
        .first()[0]
    )
    k = int(r) if r is not None else int(t.agg(F.min("s")).first()[0])
    return run_sparql(f"DESCRIBE E{k}", tables, vocabs)


def _q_sparql_filter_cmp(spark, sf_dir):
    """G22: ordering FILTER with a NUMERIC constant — numeric typing
    (codepoint order would keep e.g. '9' >= '100'); non-numeric 'X…'
    terms are a type error and drop."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_numeric_index(spark, sf_dir)
    p0, _, _ = _bgp_consts(spark, sf_dir)
    t = _derived_triples(spark, sf_dir)
    thr = int(t.agg(F.floor(F.avg("o"))).first()[0])
    return run_sparql(
        f"SELECT ?x ?y WHERE {{ ?x P{p0} ?y . FILTER (?y >= {thr}) }}",
        tables,
        vocabs,
    )


def _q_sparql_strfns(spark, sf_dir):
    """G24: SPARQL 1.1 string built-ins — STRSTARTS pushed into the
    s-vocab dimension (single-role ?x), CONTAINS + STRLEN on the decoded
    object term; all literal-verbatim, no regex interpretation."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, _, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f'SELECT ?x ?y WHERE {{ ?x P{p0} ?y . FILTER STRSTARTS(?x, "E1") . '
        f'FILTER CONTAINS(?y, "7") . FILTER ( STRLEN(?y) <= 3 ) }}',
        tables,
        vocabs,
    )


def _q_sparql_bool_filter(spark, sf_dir):
    """G25: boolean FILTER combination — disjunction across two
    variables plus a negated built-in, three-valued semantics."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, _, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f'SELECT ?x ?y WHERE {{ ?x P{p0} ?y . '
        f'FILTER ( STRSTARTS(?x, "E1") || !CONTAINS(?y, "7") && STRLEN(?y) <= 3 ) }}',
        tables,
        vocabs,
    )


def _q_sparql_var_cmp(spark, sf_dir):
    """G26: variable-variable FILTER over the shifted index — ?x = ?y
    finds self-loops by TERM equality; the o-ids are shifted by 10^7, so
    an id-level comparison would match NOTHING."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, _, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f"SELECT ?x ?y WHERE {{ ?x P{p0} ?y . FILTER ( ?x = ?y ) }}",
        tables,
        vocabs,
    )


def _q_sparql_in(spark, sf_dir):
    """G27: FILTER [NOT] IN — ?x IN (...) pushes into the s-vocab
    dimension (one semi join on the long id); ?y NOT IN (...) cuts by
    decoded TERM over the shifted index, where id-level membership would
    match nothing (o-ids displaced by 10^7)."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, _, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f"SELECT ?x ?y WHERE {{ ?x P{p0} ?y . "
        f'FILTER ( ?x IN ("E1", "E2", "E3", "E5", "E8", "E13") ) . '
        f'FILTER ( ?y NOT IN ("E7", "E17", "E1013") ) }}',
        tables,
        vocabs,
    )


def _q_sparql_strbind(spark, sf_dir):
    """G28: BIND string functions — SUBSTR/LCASE/STRAFTER composed under
    CONCAT plus a regex REPLACE, all over decoded terms of the shifted
    index; the DuckDB twin replays each function literally."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, _, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f"SELECT ?x ?r ?m WHERE {{ ?x P{p0} ?y . "
        f'BIND( CONCAT(LCASE(SUBSTR(?x, 1, 1)), STRAFTER(?y, "E")) AS ?r ) . '
        f'BIND( REPLACE(?y, "7", "#") AS ?m ) }}',
        tables,
        vocabs,
    )


def _q_sparql_subquery(spark, sf_dir):
    """G23: SPARQL 1.1 subquery — per-subject P1-degree computed in a
    nested SELECT, joined to the outer P0 pattern on the shared ?x, then
    FILTERed numerically on the typed COUNT alias."""
    from rdf_indexes_spark.plans.sparql import run_sparql

    tables, vocabs = _sparql_shifted_index(spark, sf_dir)
    p0, p1, _ = _bgp_consts(spark, sf_dir)
    return run_sparql(
        f"SELECT ?x ?y ?n WHERE {{ ?x P{p0} ?y . "
        f"{{ SELECT ?x (COUNT(*) AS ?n) WHERE {{ ?x P{p1} ?z }} GROUP BY ?x }} . "
        f"FILTER (?n >= 2) }}",
        tables,
        vocabs,
    )


def _q_path_closure(spark, sf_dir):
    """G4: one-or-more property path (p0+) — distributed path-doubling
    transitive closure over the min-predicate's edge set (single id
    domain here, matching the integer-engine view; the term-bridged
    variant is exercised by g3's machinery + pytest)."""
    from rdf_indexes_spark.plans.paths import transitive_closure

    t = _derived_triples(spark, sf_dir)
    tables = {name: t for name in ("spo", "pos", "osp", "ops", "pso")}
    p0, _, _ = _bgp_consts(spark, sf_dir)
    return transitive_closure(tables, p0)


_BGP_CONST_SQL = (
    "c AS (SELECT (SELECT min(p) FROM t) AS p0, "
    "(SELECT min(p) FROM t WHERE p > (SELECT min(p) FROM t)) AS p1, "
    "(SELECT min(o) FROM t WHERE p = (SELECT min(p) FROM t WHERE p > (SELECT min(p) FROM t))) AS o0)"
)


def _q_simhash_near(spark, sf_dir):
    from rdf_indexes_spark.operators.dedup import simhash, simhash_near_pairs

    return simhash_near_pairs(simhash(_read(spark, sf_dir, "documents")), max_hamming=3)


def _q_multimodal(spark, sf_dir):
    from rdf_indexes_spark.operators.multimodal import extract_features, synth_media

    return extract_features(synth_media(spark, n=60), decode_stub=True).select(
        "media_id", "kind", "n_bytes", "sha256"
    )


def _q_sketch_stats(spark, sf_dir):
    """Mergeable HLL stats: sketch two simulated delta generations of
    the triple set, merge WITHOUT rescanning — the incremental D1 path.
    Rows-only: DataSketches estimates have no DuckDB twin; the exact-
    accuracy + mergeability oracle lives in test_pipeline."""
    from rdf_indexes_spark.operators import permutations as perm

    t = _derived_triples(spark, sf_dir)
    gens = [t.filter(F.col("s") % 2 == i) for i in (0, 1)]
    return perm.merge_sketch_stats([perm.sketch_stats(g) for g in gens])


def _q_profile_columns(spark, sf_dir):
    """Ingest-time data-quality profile of the orders table (integer,
    string and key columns; min/max rendered as strings)."""
    from rdf_indexes_spark.operators.schema import profile_columns

    return profile_columns(
        _read(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )


def _q_retention(spark, sf_dir):
    """Weekly cohort-retention triangle over the events stream."""
    from rdf_indexes_spark.operators.temporal import retention_cohorts

    out = retention_cohorts(_read(spark, sf_dir, "events"), "ts", "user_id", "week")
    return out.select(
        F.col("cohort").cast("string").alias("cohort"),
        F.col("period_offset").cast("int").alias("period_offset"),
        F.col("n_active").cast("long").alias("n_active"),
    )


def _q_funnel(spark, sf_dir):
    """view→click→purchase conversion funnel, 24h completion window."""
    from rdf_indexes_spark.operators.temporal import funnel

    out = funnel(
        _read(spark, sf_dir, "events"), ["view", "click", "purchase"], within_s=86400
    )
    return out.select("step_idx", "step", F.col("n_keys").cast("long").alias("n_keys"))


def _q_embedding_norms(spark, sf_dir):
    """Per-label quantized-norm census of the embedding corpus."""
    from rdf_indexes_spark.operators.similarity import embedding_norm_stats

    return embedding_norm_stats(_read(spark, sf_dir, "embeddings"))


def _q_hybrid_rrf(spark, sf_dir):
    """Hybrid search: BM25 top-50 ⊕ cosine top-50 (query vec 0) fused
    by exact-integer reciprocal-rank fusion, final top-10."""
    from rdf_indexes_spark.functions.ranking import rrf_fuse
    from rdf_indexes_spark.operators.similarity import brute_force_topk
    from rdf_indexes_spark.operators.textops import bm25_search

    docs = _read(spark, sf_dir, "documents")
    emb = _read(spark, sf_dir, "embeddings")
    text_top = bm25_search(docs, ["scan", "join", "merge"], k=50).select("doc_id", "rank")
    qv = emb.filter(F.col("vec_id") == 0)
    vec_top = brute_force_topk(emb, qv, k=50).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([text_top, vec_top], k0=60, k=10)


# The driver verification schedule (see comment at the bottom of
# queries()). Round-5 tiers, in order:
#   1-5    permanent regression sentinels (green every round from here on)
#   6-41   the 36-key rotation queue (never driver-verified before;
#          builder-swept green at sf0.01 in rounds 4 and 5)
#   42-46  round-5 oracle twins retiring the retirable no-oracle rows
#          (PQ, SemDeDup, pagerank/kcore/communities closed forms)
#   47-50  longest-untested r02 pool keys (fill the ~50-key window)
#   51+    r04-green pool (hash twins, g-keys, graph/temporal/sampling),
#          then earlier-green pools, then the waived no-oracle tier.
_DRIVER_ORDER = [
    # -- sentinels (pinned; keep green every round) --
    "b2_dense_ids",
    "c1_sort_permutation",
    "e1_broadcast_join",
    "f2_pattern_sp",
    "kg_fuse_facts",
    # -- round-5 rotation queue: first driver verification --
    "kg_weighted_distances",
    "kg_table_to_triples",
    "dedup_keep_best",
    "trailing_counts_events",
    "event_transitions",
    "time_resample_events",
    "grouped_quantiles_chars",
    "kg_fact_history",
    "kg_current_facts",
    "conversation_stats",
    "tool_stats",
    "kg_fact_as_of",
    "interval_join_sessions",
    "exact_quantiles_value",
    "render_chat",
    "dedup_conversations",
    "loss_spans",
    "fim_transform",
    "dedup_line",
    "dedup_span",
    "a2_extract_oracle",
    "dedup_simhash_near_oracle",
    "sample_hash",
    "mixture_report",
    "split_corpus",
    "decontaminate_spans",
    "kg_clustering",
    "kg_negative_samples",
    "ann_knn_graph",
    "sample_weighted",
    "text_normalize",
    "sample_upsampled",
    "e5_rank_decode",
    "profile_columns_orders",
    "embedding_norm_stats",
    "hybrid_search_rrf",
    # -- round-5 oracle twins: the last retirable no-oracle rows --
    "ann_pq_topk_oracle",
    "semantic_dedup_oracle",
    "kg_pagerank_oracle",
    "kg_kcore_oracle",
    "kg_communities_oracle",
    # -- longest-untested r02 pool keys (fill the ~50-key window) --
    "f1_member",
    "f1_member_position",
    "f3_pattern_s",
    "f4_pattern_po",
    # -- r04-green: hash-family oracle twins --
    "dedup_minhash_oracle",
    "dedup_simhash_oracle",
    "kg_triples_oracle",
    # -- SPARQL surface --
    "g1_bgp_chain",
    "g2_bgp_star",
    "g3_sparql_chain",
    "g4_path_closure",
    "g5_sparql_union",
    "g6_sparql_exists",
    "g7_sparql_minus",
    "g8_sparql_values",
    "g9_sparql_path_seq",
    "g10_sparql_path_alt_inv",
    "g11_sparql_path_star",
    "g12_sparql_group_count",
    "g13_sparql_min_max",
    "g14_sparql_having",
    "g15_sparql_group_concat",
    "g16_sparql_nps",
    "g17_sparql_paging",
    "g18_sparql_construct",
    "g19_sparql_sum_avg",
    "g20_sparql_bind",
    "g21_sparql_describe",
    "g22_sparql_filter_cmp",
    "g23_sparql_subquery",
    "g24_sparql_strfns",
    "g25_sparql_bool_filter",
    "g26_sparql_var_cmp",
    "g27_sparql_in",
    "g28_sparql_strbind",
    "g29_sparql_optional",
    "g30_sparql_bound",
    # -- graph / temporal / sampling families --
    "kg_triangles",
    "kg_cooccurrence",
    "kg_random_walks",
    "kg_link_prediction",
    "cc_components",
    "asof_join_events",
    "time_rollup_events",
    "retention_cohorts_events",
    "funnel_events",
    "sample_stratified",
    "sample_mixture",
    "decontaminate",
    # -- previously driver-green (r01/r02), rotated out of r03 --
    "f5_pattern_p",
    "f6_pattern_o",
    "f7_pattern_so",
    "f8_scan_all",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "text_token_bpe",
    "kg_extract_mentions",
    "kg_triples",
    "multimodal_features",
    "e4_p_index",
    "d4_count_pattern",
    "c3_triple_diff",
    "a4_text_roundtrip",
    "dedup_embedding_cosine",
    "a7_querylog_batched",
    "b3_hash_ids",
    "dedup_simhash_near",
    "e5_rank_remap",
    "d2_space_stats",
    # -- green in r03 --
    "b1_term_freq",
    "b4_dict_encode",
    "b5_dedup",
    "c2_column_permutation",
    "d1_stats",
    "d3_skew_census",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_near_keep",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_token_count",
    "text_language_id",
    "text_unigram_rarity",
    "text_lm_surprisal",
    "text_vote_classifier",
    "corpus_source_overlap",
    "text_bigram_pmi",
    "text_quality",
    "text_fingerprint",
    "text_repetition",
    "gopher_filter",
    "c4_filter",
    "text_top_terms",
    "text_bm25_search",
    "chunk_documents",
    "redact_pii",
    "winnow_fingerprints",
    "dedup_winnow_pairs",
    "dialogue_pairs",
    "pack_sequences",
    "sessionize_events",
    "validate_turns",
    "merge_consecutive_roles",
    "kg_predicate_profile",
    "kg_domain_range",
    "kg_fact_provenance",
    "kg_inverse_predicates",
    "kg_rdfs_closure",
    "kg_sameas_smush",
    "kg_rhodf_entailment",
    "kg_bfs_distances",
    "kg_property_table",
    "er_fuzzy_pairs",
    "json_field_stats",
    "kg_degree_histogram",
    # -- no DuckDB oracle (rows-only driver check) --
    "kg_personalized_pagerank",
    "learn_bpe",
    "bpe_encode",
    "text_compression",
    "ann_pq_topk",
    "semantic_dedup",
    "kg_pagerank",
    "kg_kcore",
    "kg_communities",
    "d1_stats_sketch_merge",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "b1_term_freq": _q_b1,
        "b2_dense_ids": _q_b2,
        "b4_dict_encode": _q_b4,
        "b5_dedup": _q_b5,
        "c1_sort_permutation": _q_c1,
        "c2_column_permutation": _q_c2,
        "d1_stats": _q_d1,
        "d3_skew_census": _q_d3,
        "e1_broadcast_join": _q_e1,
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_ngram_jaccard,
        "dedup_near_keep": _q_near_dup_keep,
        "dedup_minhash_lsh": _q_minhash_lsh,
        "dedup_simhash": _q_simhash,
        "text_token_count": _q_token_count,
        "text_language_id": _q_language_id,
        "text_unigram_rarity": _q_unigram_rarity,
        "text_lm_surprisal": _q_lm_surprisal,
        "text_vote_classifier": _q_vote_classifier,
        "corpus_source_overlap": _q_source_overlap,
        "text_bigram_pmi": _q_bigram_pmi,
        "text_quality": _q_quality,
        "text_fingerprint": _q_fingerprint,
        "text_repetition": _q_repetition,
        "gopher_filter": _q_gopher_filter,
        "c4_filter": _q_c4_filter,
        "text_top_terms": _q_top_terms,
        "text_bm25_search": _q_bm25,
        "chunk_documents": _q_chunk_documents,
        "redact_pii": _q_redact_pii,
        "winnow_fingerprints": _q_winnow,
        "dedup_winnow_pairs": _q_winnow_pairs,
        "dialogue_pairs": _q_dialogue_pairs,
        "pack_sequences": _q_pack_sequences,
        "sessionize_events": _q_sessionize,
        "validate_turns": _q_validate_turns,
        "merge_consecutive_roles": _q_merge_consecutive_roles,
        "kg_predicate_profile": _q_predicate_profile,
        "kg_domain_range": _q_domain_range,
        "kg_fact_provenance": _q_fact_provenance,
        "kg_fuse_facts": _q_fuse_facts,
        "kg_inverse_predicates": _q_inverse_predicates,
        "kg_rdfs_closure": _q_rdfs_closure,
        "kg_sameas_smush": _q_sameas_smush,
        "kg_rhodf_entailment": _q_rhodf_entailment,
        "kg_bfs_distances": _q_bfs_distances,
        "kg_property_table": _q_property_table,
        "er_fuzzy_pairs": _q_fuzzy_pairs,
        "json_field_stats": _q_json_field_stats,
        "kg_degree_histogram": _q_degree_histogram,
        "kg_link_prediction": _q_kg_link_prediction,
        "kg_random_walks": _q_kg_random_walks,
        "kg_personalized_pagerank": _q_kg_personalized_pagerank,
        "kg_weighted_distances": _q_kg_weighted_distances,
        "kg_table_to_triples": _q_table_to_triples,
        "learn_bpe": _q_learn_bpe,
        "bpe_encode": _q_bpe_encode,
        "dedup_keep_best": _q_keep_best,
        "trailing_counts_events": _q_trailing_counts,
        "event_transitions": _q_event_transitions,
        "time_resample_events": _q_time_resample,
        "grouped_quantiles_chars": _q_grouped_quantiles,
        "sample_stratified": _q_stratified_sample,
        "kg_fact_history": _q_fact_history,
        "kg_current_facts": _q_current_facts,
        "conversation_stats": _q_conversation_stats,
        "tool_stats": _q_tool_stats,
        "asof_join_events": _q_asof_join,
        "kg_fact_as_of": _q_fact_as_of,
        "interval_join_sessions": _q_interval_join,
        "time_rollup_events": _q_time_rollup,
        "exact_quantiles_value": _q_exact_quantiles,
        "render_chat": _q_render_chat,
        "dedup_conversations": _q_dedup_conversations,
        "loss_spans": _q_loss_spans,
        "fim_transform": _q_fim_transform,
        "text_compression": _q_compression_stats,
        "dedup_line": _q_line_dedup,
        "dedup_span": _q_duplicate_spans,
        "ann_cosine_topk": _q_ann,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_ivf_topk": _q_ann_ivf,
        "ann_pq_topk": _q_ann_pq,
        "ann_pq_topk_oracle": _q_ann_pq_oracle,
        "text_token_bpe": _q_token_bpe,
        "kg_extract_mentions": _q_kg_mentions,
        "a2_extract_oracle": _q_a2_extract_oracle,
        "dedup_minhash_oracle": _q_minhash_oracle,
        "dedup_simhash_oracle": _q_simhash_oracle,
        "dedup_simhash_near_oracle": _q_simhash_near_oracle,
        "kg_triples": _q_kg_triples,
        "kg_triples_oracle": _q_kg_triples_oracle,
        "multimodal_features": _q_multimodal,
        "e4_p_index": _q_e4_p_index,
        "d4_count_pattern": _q_d4_count_pattern,
        "c3_triple_diff": _q_c3_except,
        "a4_text_roundtrip": _q_a4_text_roundtrip,
        "dedup_embedding_cosine": _q_embedding_near_dup,
        "semantic_dedup": _q_semantic_dedup,
        "semantic_dedup_oracle": _q_semantic_dedup_oracle,
        "sample_hash": _q_hash_sample,
        "sample_mixture": _q_mixture_sample,
        "mixture_report": _q_mixture_report,
        "split_corpus": _q_split_corpus,
        "decontaminate": _q_decontaminate,
        "decontaminate_spans": _q_decontaminate_spans,
        "kg_pagerank": _q_kg_pagerank,
        "kg_pagerank_oracle": _q_kg_pagerank_oracle,
        "kg_triangles": _q_kg_triangles,
        "kg_clustering": _q_kg_clustering,
        "kg_cooccurrence": _q_kg_cooccurrence,
        "kg_kcore": _q_kg_kcore,
        "kg_kcore_oracle": _q_kg_kcore_oracle,
        "kg_communities": _q_kg_communities,
        "kg_communities_oracle": _q_kg_communities_oracle,
        "kg_negative_samples": _q_kg_negative_samples,
        "cc_components": _q_cc_components,
        "ann_knn_graph": _q_knn_graph,
        "sample_weighted": _q_sample_weighted,
        "text_normalize": _q_text_normalize,
        "sample_upsampled": _q_sample_upsampled,
        "a7_querylog_batched": _q_a7_querylog,
        "b3_hash_ids": _q_b3_hash_ids,
        "dedup_simhash_near": _q_simhash_near,
        "e5_rank_remap": _q_e5_rank_remap,
        "e5_rank_decode": _q_e5_rank_decode,
        "d2_space_stats": _q_d2_space_stats,
        "f1_member_position": _q_f1_member_position,
        "g1_bgp_chain": _q_bgp_chain,
        "g2_bgp_star": _q_bgp_star,
        "g3_sparql_chain": _q_sparql_chain,
        "g4_path_closure": _q_path_closure,
        "g5_sparql_union": _q_sparql_union,
        "g6_sparql_exists": _q_sparql_exists,
        "g7_sparql_minus": _q_sparql_minus,
        "g8_sparql_values": _q_sparql_values,
        "g9_sparql_path_seq": _q_sparql_path_seq,
        "g10_sparql_path_alt_inv": _q_sparql_path_alt_inv,
        "g11_sparql_path_star": _q_sparql_path_star,
        "g12_sparql_group_count": _q_sparql_group_count,
        "g13_sparql_min_max": _q_sparql_min_max,
        "g14_sparql_having": _q_sparql_having,
        "g15_sparql_group_concat": _q_sparql_group_concat,
        "g16_sparql_nps": _q_sparql_nps,
        "g17_sparql_paging": _q_sparql_paging,
        "g18_sparql_construct": _q_sparql_construct,
        "g19_sparql_sum_avg": _q_sparql_sum_avg,
        "g23_sparql_subquery": _q_sparql_subquery,
        "g20_sparql_bind": _q_sparql_bind,
        "g21_sparql_describe": _q_sparql_describe,
        "g22_sparql_filter_cmp": _q_sparql_filter_cmp,
        "g24_sparql_strfns": _q_sparql_strfns,
        "g25_sparql_bool_filter": _q_sparql_bool_filter,
        "g26_sparql_var_cmp": _q_sparql_var_cmp,
        "g27_sparql_in": _q_sparql_in,
        "g28_sparql_strbind": _q_sparql_strbind,
        "g29_sparql_optional": _q_sparql_optional,
        "g30_sparql_bound": _q_sparql_bound,
        "retention_cohorts_events": _q_retention,
        "funnel_events": _q_funnel,
        "profile_columns_orders": _q_profile_columns,
        "d1_stats_sketch_merge": _q_sketch_stats,
        "embedding_norm_stats": _q_embedding_norms,
        "hybrid_search_rrf": _q_hybrid_rrf,
    }
    masks = {
        "f1_member": (True, True, True),
        "f2_pattern_sp": (True, True, False),
        "f3_pattern_s": (True, False, False),
        "f4_pattern_po": (False, True, True),
        "f5_pattern_p": (False, True, False),
        "f6_pattern_o": (False, False, True),
        "f7_pattern_so": (True, False, True),
        "f8_scan_all": (False, False, False),
    }
    for name, mask in masks.items():
        q[name] = _pattern_query(mask)
    # Dict order IS the driver's verification schedule: the per-round
    # correctness sweep runs the FIRST ~50 keys in dict order against
    # their DuckDB oracles at sf0.01 (CORRECTNESS_r*.json). _DRIVER_ORDER
    # front-loads (a) 5 permanent sentinels re-proving the core every
    # round, then (b) keys never driver-verified in rounds 1-3 (the
    # minhash/simhash/kg_triples oracle twins, all 30 SPARQL g-keys, and
    # graph/temporal/sampling representatives); positions 51+ queue the
    # remaining never-tested oracles for the round-5 rotation, then the
    # previously-green pool, with no-oracle (rows-only) keys last.
    ordered = {k: q[k] for k in _DRIVER_ORDER if k in q}
    ordered.update({k: v for k, v in q.items() if k not in ordered})
    return ordered


# ---------------------------------------------------------------- oracle


_TOKS = "list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))"
_TOKS_ALL = "regexp_split_to_array(trim(lower(text)), '\\s+')"


def _lang_sql() -> str:
    from rdf_indexes_spark.operators.textops import LANG_STOPWORDS

    hits = {
        lang: f"len(list_intersect({_TOKS}, {words!r}))"
        for lang, words in LANG_STOPWORDS.items()
    }
    de, en, es, fr = hits["de"], hits["en"], hits["es"], hits["fr"]
    return f"""
SELECT doc_id,
  CASE WHEN greatest({de},{en},{es},{fr}) = 0 THEN 'und'
       WHEN {de} >= {en} AND {de} >= {es} AND {de} >= {fr} THEN 'de'
       WHEN {en} >= {es} AND {en} >= {fr} THEN 'en'
       WHEN {es} >= {fr} THEN 'es'
       ELSE 'fr' END AS lang_pred,
  CAST({de} AS BIGINT) AS de_hits, CAST({en} AS BIGINT) AS en_hits,
  CAST({es} AS BIGINT) AS es_hits, CAST({fr} AS BIGINT) AS fr_hits
FROM documents
"""


def _quality_sql() -> str:
    from rdf_indexes_spark.operators.textops import LANG_STOPWORDS

    stop = LANG_STOPWORDS["en"]
    return f"""
WITH base AS (
  SELECT doc_id, length(text) AS n_chars,
    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_TOKS_ALL}) END AS n_tokens,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(list_filter({_TOKS_ALL}, x -> regexp_matches(x, '^[a-z]+$'))) END AS n_alpha_tokens,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(list_filter({_TOKS_ALL}, x -> list_contains({stop!r}, x))) END AS n_stop
  FROM documents
), feat AS (
  SELECT doc_id, n_chars, n_tokens, n_alpha_tokens,
    CASE WHEN n_tokens > 0 THEN CAST(floor(n_chars * 100.0 / n_tokens) AS BIGINT) ELSE 0 END AS mean_token_len_x100,
    CASE WHEN n_tokens > 0 THEN CAST(floor(n_stop * 1000.0 / n_tokens) AS BIGINT) ELSE 0 END AS stop_ratio_x1000
  FROM base
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(n_alpha_tokens AS BIGINT) AS n_alpha_tokens, mean_token_len_x100, stop_ratio_x1000,
  CAST(greatest(0, least(100,
     50 + least(25, CAST(floor(stop_ratio_x1000 / 10.0) AS BIGINT))
        + least(25, CAST(floor(n_tokens / 20.0) AS BIGINT))
        - CASE WHEN n_tokens < 5 THEN 40 ELSE 0 END)) AS BIGINT) AS quality
FROM feat
"""


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {
        "b1_term_freq": "SELECT event_type AS term, count(*) AS cnt FROM events GROUP BY event_type",
        "b2_dense_ids": (
            "SELECT term, CAST(row_number() OVER (ORDER BY cnt DESC, term ASC) - 1 AS BIGINT) AS id "
            "FROM (SELECT event_type AS term, count(*) AS cnt FROM events GROUP BY event_type)"
        ),
        "b4_dict_encode": (
            "WITH v AS (SELECT term, CAST(row_number() OVER (ORDER BY cnt DESC, term ASC) - 1 AS BIGINT) AS id "
            "FROM (SELECT event_type AS term, count(*) AS cnt FROM events GROUP BY event_type)) "
            "SELECT e.event_id, e.event_type AS term, v.id AS type_id FROM events e JOIN v ON e.event_type = v.term"
        ),
        "b5_dedup": "SELECT DISTINCT user_id, event_type FROM events",
        "c1_sort_permutation": _TRIPLES_SQL,
        "c2_column_permutation": f"SELECT p, o, s FROM ({_TRIPLES_SQL})",
        "d1_stats": (
            f"WITH t AS ({_TRIPLES_SQL}) SELECT count(*) AS num_triples, "
            "count(DISTINCT s) AS distinct_subjects, count(DISTINCT p) AS distinct_predicates, "
            "count(DISTINCT o) AS distinct_objects, "
            "(SELECT count(*) FROM (SELECT DISTINCT s, p FROM t)) AS distinct_sp_pairs, "
            "(SELECT count(*) FROM (SELECT DISTINCT p, o FROM t)) AS distinct_po_pairs, "
            "(SELECT count(*) FROM (SELECT DISTINCT o, s FROM t)) AS distinct_os_pairs FROM t"
        ),
        "d3_skew_census": (
            f"WITH t AS ({_TRIPLES_SQL}), g AS (SELECT s, count(*) AS group_size FROM t GROUP BY s) "
            "SELECT group_size, count(*) AS frequency FROM g GROUP BY group_size"
        ),
        "e1_broadcast_join": (
            # outer CAST: DuckDB promotes sum(BIGINT) to HUGEINT, which
            # pandas receives as float64 (30622.0) while Spark's sum(long)
            # is int64 (30622) — same value, different hash. Pin BIGINT.
            "SELECT n_name, count(*) AS n_items, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty "
            "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name"
        ),
        "dedup_exact": (
            "WITH g AS (SELECT text, min(doc_id) AS keep_id, count(*) AS group_size FROM documents GROUP BY text) "
            "SELECT d.doc_id, g.keep_id, g.group_size FROM documents d JOIN g ON d.text = g.text"
        ),
        "dedup_ngram_jaccard": (
            f"WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents) "
            "SELECT a.doc_id AS a, b.doc_id AS b, "
            "CAST(floor(len(list_intersect(a.tk, b.tk)) * 1000000.0 / len(list_distinct(list_concat(a.tk, b.tk)))) AS BIGINT) AS jacc_ppm "
            "FROM toks a JOIN toks b ON a.doc_id < b.doc_id "
            "WHERE len(list_intersect(a.tk, b.tk)) * 1.0 / len(list_distinct(list_concat(a.tk, b.tk))) >= 0.6"
        ),
        # survivor selection: connected components over the 0.8-Jaccard
        # pair graph (recursive transitive closure in the oracle; the
        # engine runs the distributed min-label CC), keep the min
        # doc id per cluster + all unpaired docs
        "a2_extract_oracle": _kg_extract_oracle_sql(),
        "dedup_minhash_oracle": _minhash_oracle_sql(),
        "dedup_simhash_oracle": _simhash_oracle_sql(),
        "dedup_simhash_near_oracle": _simhash_oracle_sql(near=True),
        "kg_triples_oracle": _kg_triples_oracle_sql(),
        # SemDeDup at n_clusters=1 == global cosine near-dup keep:
        # all-pairs threshold + recursive CC + min-id survivors (the
        # dedup_near_keep closure shape over the embedding pair graph)
        "semantic_dedup_oracle": (
            "WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), "
            "p AS (SELECT a.vec_id AS a, b.vec_id AS b FROM v a JOIN v b ON a.vec_id < b.vec_id "
            "      WHERE list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.4), "
            "sym AS (SELECT a, b FROM p UNION SELECT b, a FROM p), "
            "reach(src, dst) AS (SELECT a, b FROM sym "
            "  UNION SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a), "
            "comp AS (SELECT src AS vec_id, least(min(dst), src) AS comp FROM reach GROUP BY src) "
            "SELECT v.vec_id FROM v LEFT JOIN comp c USING (vec_id) "
            "WHERE c.comp IS NULL OR c.comp = v.vec_id"
        ),
        # PQ with the anchor codebook over floor-quantized vectors:
        # encode (argmin integer L2 per subspace, ties to the lowest
        # code), ADC (integer LUT-sum), top k*overscan per query, exact
        # cosine re-rank — replaying pq_topk(books=anchors,
        # normalize=False) value-for-value
        "ann_pq_topk_oracle": (
            "WITH v AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> floor(x * 1000)) AS e FROM embeddings), "
            "anch AS (SELECT e, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code "
            "         FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)), "
            "dims AS (SELECT unnest(range(0, 64)) AS i), "
            "vl AS (SELECT vec_id, i, e[i + 1] AS x FROM v CROSS JOIN dims), "
            "al AS (SELECT code, i, e[i + 1] AS x FROM anch CROSS JOIN dims), "
            "enc AS (SELECT vl.vec_id, vl.i // 8 AS j, al.code, "
            "               SUM((vl.x - al.x) * (vl.x - al.x)) AS dist "
            "        FROM vl JOIN al USING (i) GROUP BY 1, 2, 3), "
            "codes AS (SELECT vec_id, j, code FROM ("
            "          SELECT vec_id, j, code, row_number() OVER ("
            "            PARTITION BY vec_id, j ORDER BY dist ASC, code ASC) AS rn "
            "          FROM enc) WHERE rn = 1), "
            "qs AS (SELECT vec_id FROM v ORDER BY vec_id LIMIT 5), "
            "lut AS (SELECT vl.vec_id AS query_id, vl.i // 8 AS j, al.code, SUM(vl.x * al.x) AS dp "
            "        FROM vl JOIN al USING (i) "
            "        WHERE vl.vec_id IN (SELECT vec_id FROM qs) GROUP BY 1, 2, 3), "
            "adc AS (SELECT lut.query_id, codes.vec_id AS neighbor_id, SUM(lut.dp) AS s "
            "        FROM codes JOIN lut ON codes.j = lut.j AND codes.code = lut.code "
            "        WHERE codes.vec_id <> lut.query_id GROUP BY 1, 2), "
            "cand AS (SELECT query_id, neighbor_id FROM ("
            "         SELECT query_id, neighbor_id, row_number() OVER ("
            "           PARTITION BY query_id ORDER BY s DESC, neighbor_id ASC) AS rn "
            "         FROM adc) WHERE rn <= 20), "
            "sc AS (SELECT cand.query_id, cand.neighbor_id, "
            "              list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cos "
            "       FROM cand JOIN v a ON a.vec_id = cand.query_id "
            "                 JOIN v b ON b.vec_id = cand.neighbor_id) "
            "SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rank FROM ("
            "  SELECT query_id, neighbor_id, row_number() OVER ("
            "    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk "
            "  FROM sc) WHERE rk <= 5"
        ),
        # graph twins: closed forms over the deterministic clique /
        # ring layouts (_twin_clique_nodes / the pagerank ring)
        "kg_kcore_oracle": (
            f"WITH {_TWIN_CLIQUE_SQL} "
            "SELECT cl.id AS node FROM cl JOIN sz USING (g) WHERE sz.cnt >= 4"
        ),
        "kg_communities_oracle": (
            f"WITH {_TWIN_CLIQUE_SQL} "
            "SELECT cl.id AS node, sz.mn AS community "
            "FROM cl JOIN sz USING (g) WHERE sz.cnt >= 2"
        ),
        "kg_pagerank_oracle": (
            "SELECT CAST(c_custkey AS BIGINT) AS node, "
            "CAST(round(1000000000.0 / (SELECT COUNT(*) FROM customer)) AS BIGINT) AS pr_x1e9 "
            "FROM customer"
        ),
        "dedup_near_keep": (
            f"WITH RECURSIVE toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents), "
            "p AS (SELECT a.doc_id AS a, b.doc_id AS b FROM toks a JOIN toks b ON a.doc_id < b.doc_id "
            "      WHERE len(list_intersect(a.tk, b.tk)) * 1.0 / len(list_distinct(list_concat(a.tk, b.tk))) >= 0.8), "
            "sym AS (SELECT a, b FROM p UNION SELECT b, a FROM p), "
            "reach(src, dst) AS (SELECT a, b FROM sym "
            "  UNION SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a), "
            "comp AS (SELECT src AS doc_id, least(min(dst), src) AS comp FROM reach GROUP BY src) "
            "SELECT d.doc_id FROM documents d LEFT JOIN comp c USING (doc_id) "
            "WHERE c.comp IS NULL OR c.comp = d.doc_id"
        ),
        "g1_bgp_chain": (
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL} "
            "SELECT a.s AS x, a.o AS y, b.o AS z FROM t a, t b, c "
            "WHERE a.p = c.p0 AND b.p = c.p1 AND b.s = a.o"
        ),
        "g2_bgp_star": (
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL} "
            "SELECT a.s AS x, a.o AS y FROM t a, t b, c "
            "WHERE a.p = c.p0 AND b.p = c.p1 AND b.o = c.o0 AND b.s = a.s"
        ),
        "g3_sparql_chain": (
            # string-level twin of g1: the Spark side runs the SPARQL
            # front-end over shifted o-ids (id joins match nothing); term
            # semantics reduce to the raw chain with decoded surfaces
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL} "
            "SELECT 'E' || CAST(a.s AS VARCHAR) AS x, "
            "'E' || CAST(a.o AS VARCHAR) AS y, "
            "'E' || CAST(b.o AS VARCHAR) AS z FROM t a, t b, c "
            "WHERE a.p = c.p0 AND b.p = c.p1 AND b.s = a.o"
        ),
        "g5_sparql_union": (
            # bag-union twin: UNION ALL, branch roles swapped — the Spark
            # side must align ?x/?y across s- and o-roles by TERM
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL} "
            "SELECT 'E' || CAST(s AS VARCHAR) AS x, 'E' || CAST(o AS VARCHAR) AS y "
            "FROM t, c WHERE p = c.p0 "
            "UNION ALL "
            "SELECT 'E' || CAST(o AS VARCHAR) AS x, 'E' || CAST(s AS VARCHAR) AS y "
            "FROM t, c WHERE p = c.p1"
        ),
        "g6_sparql_exists": (
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL} "
            "SELECT 'E' || CAST(a.s AS VARCHAR) AS x, 'E' || CAST(a.o AS VARCHAR) AS y "
            "FROM t a, c WHERE a.p = c.p0 AND NOT EXISTS "
            "(SELECT 1 FROM t b WHERE b.p = c.p1 AND b.s = a.o)"
        ),
        "g7_sparql_minus": (
            # shared-?y MINUS == NOT EXISTS on the shared var; the
            # disjoint-domain MINUS contributes NOTHING to the SQL twin
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL} "
            "SELECT 'E' || CAST(a.s AS VARCHAR) AS x, 'E' || CAST(a.o AS VARCHAR) AS y "
            "FROM t a, c WHERE a.p = c.p0 AND NOT EXISTS "
            "(SELECT 1 FROM t b WHERE b.p = c.p1 AND b.s = a.o)"
        ),
        "g8_sparql_values": (
            # the absent VALUES term matches nothing; the present one is
            # exactly min(s) under p0
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL} "
            "SELECT 'E' || CAST(s AS VARCHAR) AS x, 'E' || CAST(o AS VARCHAR) AS y "
            "FROM t, c WHERE p = c.p0 AND s = (SELECT min(s) FROM t, c WHERE p = c.p0)"
        ),
        "g29_sparql_optional": (
            # left-join twin: unmatched required rows keep z = NULL
            # ('E' || NULL is NULL in DuckDB, matching the unbound var)
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL}, "
            "req AS (SELECT s, o FROM t, c WHERE p = c.p0), "
            "opt AS (SELECT s, o FROM t, c WHERE p = c.p1) "
            "SELECT 'E' || CAST(req.s AS VARCHAR) AS x, "
            "'E' || CAST(req.o AS VARCHAR) AS y, "
            "'E' || CAST(opt.o AS VARCHAR) AS z "
            "FROM req LEFT JOIN opt ON opt.s = req.o"
        ),
        "g30_sparql_bound": (
            # IF(BOUND(...)) = CASE WHEN ... IS NOT NULL; COALESCE is
            # COALESCE — unmatched left-join rows exercise both branches
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL}, "
            "req AS (SELECT s, o FROM t, c WHERE p = c.p0), "
            "opt AS (SELECT s, o FROM t, c WHERE p = c.p1), "
            "j AS (SELECT req.s AS s, req.o AS y, opt.o AS z "
            "FROM req LEFT JOIN opt ON opt.s = req.o) "
            "SELECT 'E' || CAST(s AS VARCHAR) AS x, "
            "CASE WHEN z IS NOT NULL THEN UPPER('E' || CAST(z AS VARCHAR)) "
            "ELSE 'none' END AS w, "
            "COALESCE('E' || CAST(z AS VARCHAR), 'E' || CAST(y AS VARCHAR)) AS v "
            "FROM j"
        ),
        "g9_sparql_path_seq": (
            # sequence path == the term-level chain, bag semantics (the
            # join's multiset IS the path multiset)
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL} "
            "SELECT 'E' || CAST(a.s AS VARCHAR) AS x, 'E' || CAST(b.o AS VARCHAR) AS z "
            "FROM t a, t b, c WHERE a.p = c.p0 AND b.p = c.p1 AND b.s = a.o"
        ),
        "g10_sparql_path_alt_inv": (
            # ^P0 | P1: bag union (UNION ALL), inverse leg swaps roles
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL} "
            "SELECT 'E' || CAST(o AS VARCHAR) AS x, 'E' || CAST(s AS VARCHAR) AS y "
            "FROM t, c WHERE p = c.p0 "
            "UNION ALL "
            "SELECT 'E' || CAST(s AS VARCHAR) AS x, 'E' || CAST(o AS VARCHAR) AS y "
            "FROM t, c WHERE p = c.p1"
        ),
        "g11_sparql_path_star": (
            # P0* = closure(P0) ∪ zero-length identity over EVERY graph
            # term, duplicate-free (recursive-CTE UNION dedups both)
            f"WITH RECURSIVE t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL}, "
            "e AS (SELECT DISTINCT t.s, t.o FROM t, c WHERE t.p = c.p0), "
            "reach(s, o) AS (SELECT s, o FROM e "
            "  UNION SELECT r.s, e.o FROM reach r JOIN e ON e.s = r.o), "
            "nodes AS (SELECT DISTINCT s AS n FROM t UNION SELECT DISTINCT o FROM t) "
            "SELECT 'E' || CAST(s AS VARCHAR) AS x, 'E' || CAST(o AS VARCHAR) AS y FROM reach "
            "UNION SELECT 'E' || CAST(n AS VARCHAR) AS x, 'E' || CAST(n AS VARCHAR) AS y FROM nodes"
        ),
        "g12_sparql_group_count": (
            # aggregate group keys are DECODED terms; COUNT(*) vs
            # COUNT(DISTINCT subject-term) per predicate
            f"WITH t AS ({_TRIPLES_SQL}) "
            "SELECT 'P' || CAST(p AS VARCHAR) AS p, COUNT(*) AS n, "
            "COUNT(DISTINCT 'E' || CAST(s AS VARCHAR)) AS nd FROM t GROUP BY p"
        ),
        "g13_sparql_min_max": (
            # MIN/MAX over surface forms: 'E' || id compares by codepoint,
            # not by id magnitude
            f"WITH t AS ({_TRIPLES_SQL}) "
            "SELECT 'P' || CAST(p AS VARCHAR) AS p, "
            "MIN('E' || CAST(o AS VARCHAR)) AS lo, "
            "MAX('E' || CAST(o AS VARCHAR)) AS hi FROM t GROUP BY p"
        ),
        "g14_sparql_having": (
            f"WITH t AS ({_TRIPLES_SQL}) "
            "SELECT 'P' || CAST(p AS VARCHAR) AS p, COUNT(*) AS n FROM t "
            "GROUP BY p HAVING COUNT(*) > (SELECT COUNT(*) // 10 FROM t)"
        ),
        "g15_sparql_group_concat": (
            # GROUP_CONCAT pins codepoint order — string_agg ORDER BY the
            # same decoded term
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL} "
            "SELECT 'E' || CAST(s AS VARCHAR) AS x, "
            "string_agg('E' || CAST(o AS VARCHAR), ',' "
            "ORDER BY 'E' || CAST(o AS VARCHAR)) AS g "
            "FROM t, c WHERE p = c.p0 GROUP BY s"
        ),
        "g16_sparql_nps": (
            # negated property set: all edges whose predicate is neither
            # p0 nor p1 (bag: each distinct triple once)
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL} "
            "SELECT 'E' || CAST(s AS VARCHAR) AS x, 'E' || CAST(o AS VARCHAR) AS y "
            "FROM t, c WHERE p != c.p0 AND p != c.p1"
        ),
        "g17_sparql_paging": (
            # unique (x DESC, y) sort key -> both engines slice identically
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL} "
            "SELECT * FROM (SELECT 'E' || CAST(s AS VARCHAR) AS x, "
            "'E' || CAST(o AS VARCHAR) AS y FROM t, c WHERE p = c.p0) "
            "ORDER BY x DESC, y LIMIT 100 OFFSET 10"
        ),
        "g18_sparql_construct": (
            # CONSTRUCT graph = dedup'd union of the two instantiated
            # templates over the term-level chain solutions
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL}, "
            "sol AS (SELECT a.s AS x, b.o AS z FROM t a, t b, c "
            "WHERE a.p = c.p0 AND b.p = c.p1 AND b.s = a.o) "
            "SELECT 'E' || CAST(x AS VARCHAR) AS s, 'linked' AS p, "
            "'E' || CAST(z AS VARCHAR) AS o FROM sol "
            "UNION "
            "SELECT 'E' || CAST(z AS VARCHAR) AS s, 'linkedBy' AS p, "
            "'E' || CAST(x AS VARCHAR) AS o FROM sol"
        ),
        "g23_sparql_subquery": (
            # nested per-subject degree + numeric filter on the alias
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL}, "
            "sub AS (SELECT s, count(*) AS n FROM t, c WHERE p = c.p1 GROUP BY s) "
            "SELECT 'E' || CAST(t.s AS VARCHAR) AS x, 'E' || CAST(t.o AS VARCHAR) AS y, "
            "CAST(n AS BIGINT) AS n FROM t, c, sub "
            "WHERE t.p = c.p0 AND sub.s = t.s AND n >= 2"
        ),
        "g19_sparql_sum_avg": (
            # SPARQL numeric aggregates: object term is the digit string
            # of the raw id unless id % 7 == 0 (then 'X…', non-numeric).
            # A group containing any non-numeric term unbinds BOTH
            # aggregates; otherwise integer-exact doubles (SUM exact,
            # AVG = one exact-operand division — identical across
            # engines).
            f"WITH t AS ({_TRIPLES_SQL}) "
            "SELECT 'P' || CAST(p AS VARCHAR) AS p, "
            "CASE WHEN bool_or(o % 7 = 0) THEN -1.0 "
            "     ELSE SUM(CAST(o AS DOUBLE)) END AS t, "
            "CASE WHEN bool_or(o % 7 = 0) THEN -1.0 "
            "     ELSE AVG(CAST(o AS DOUBLE)) END AS m "
            "FROM t GROUP BY p"
        ),
        "g20_sparql_bind": (
            # BIND(CONCAT(?x, "->", ?y)) over the min-predicate's edges
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL} "
            "SELECT 'E' || CAST(s AS VARCHAR) || '->' || 'E' || CAST(o AS VARCHAR) AS k "
            "FROM t, c WHERE p = c.p0"
        ),
        "g21_sparql_describe": (
            # DESCRIBE E<k>, k = smallest id occurring as both a subject
            # and an object: all triples touching the term in any role
            f"WITH t AS ({_TRIPLES_SQL}), "
            "k AS (SELECT min(s) AS kk FROM t WHERE s IN (SELECT o FROM t)) "
            "SELECT 'E' || CAST(s AS VARCHAR) AS s, 'P' || CAST(p AS VARCHAR) AS p, "
            "'E' || CAST(o AS VARCHAR) AS o FROM t, k WHERE t.s = k.kk OR t.o = k.kk"
        ),
        "g22_sparql_filter_cmp": (
            # numeric-typed ordering filter: non-numeric 'X…' terms (id %
            # 7 == 0) are a type error and drop; threshold = floor(avg(o))
            # derived identically in both engines
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL}, "
            "thr AS (SELECT CAST(FLOOR(AVG(o)) AS BIGINT) AS v FROM t) "
            "SELECT 'E' || CAST(s AS VARCHAR) AS x, CAST(o AS VARCHAR) AS y "
            "FROM t, c, thr WHERE p = c.p0 AND o % 7 != 0 "
            "AND CAST(o AS DOUBLE) >= thr.v"
        ),
        "g26_sparql_var_cmp": (
            # ?x = ?y by TERM: raw s = o (the shift cancels in the term)
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL} "
            "SELECT 'E' || CAST(s AS VARCHAR) AS x, 'E' || CAST(o AS VARCHAR) AS y "
            "FROM t, c WHERE p = c.p0 AND s = o"
        ),
        "g27_sparql_in": (
            # IN/NOT IN by TERM == raw-id membership (the shift cancels)
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL} "
            "SELECT 'E' || CAST(s AS VARCHAR) AS x, 'E' || CAST(o AS VARCHAR) AS y "
            "FROM t, c WHERE p = c.p0 AND s IN (1, 2, 3, 5, 8, 13) "
            "AND o NOT IN (7, 17, 1013)"
        ),
        "kg_triangles": (
            # brute-force enumeration with canonical u<v ordering: each
            # triangle appears once as x<y<z, then corners are counted
            "WITH raw AS (SELECT DISTINCT "
            "LEAST(l_orderkey % 9973, l_partkey % 9973) AS u, "
            "GREATEST(l_orderkey % 9973, l_partkey % 9973) AS v "
            "FROM lineitem WHERE l_orderkey % 9973 <> l_partkey % 9973), "
            "tri AS (SELECT a.u AS x, a.v AS y, b.v AS z FROM raw a "
            "JOIN raw b ON b.u = a.v "
            "JOIN raw c ON c.u = a.u AND c.v = b.v), "
            "corners AS (SELECT x AS node FROM tri "
            "UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri) "
            "SELECT node, COUNT(*) AS triangles FROM corners GROUP BY node"
        ),
        "validate_turns": (
            # window twin: rep flag + first_value over the identical
            # (idx, role, tiebreak) total order; NULL-lag first rows add
            # 0 either way (Spark sum skips NULL, the CASE yields 0)
            "WITH p AS (SELECT user_id AS conv_id, event_id % 13 AS idx, "
            "CASE WHEN event_type IN ('click','view') THEN 'user' "
            "ELSE 'assistant' END AS role, event_id AS tb FROM events), "
            "r AS (SELECT *, "
            "CASE WHEN lag(role) OVER w = role THEN 1 ELSE 0 END AS rep, "
            "first_value(role) OVER w AS fr FROM p "
            "WINDOW w AS (PARTITION BY conv_id ORDER BY idx, role, tb)) "
            "SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns, "
            "CAST(COUNT(*) - COUNT(DISTINCT idx) AS BIGINT) AS n_idx_dups, "
            "CAST(MAX(idx) - MIN(idx) + 1 - COUNT(DISTINCT idx) AS BIGINT) AS n_idx_gaps, "
            "CAST(MIN(idx) AS BIGINT) AS first_idx, "
            "MAX(fr) AS first_role, "
            "CAST(SUM(rep) AS BIGINT) AS n_role_repeats, "
            "(COUNT(*) = COUNT(DISTINCT idx) "
            "AND MAX(idx) - MIN(idx) + 1 = COUNT(DISTINCT idx) "
            "AND MIN(idx) = 0 AND SUM(rep) = 0) AS ok "
            "FROM r GROUP BY conv_id"
        ),
        "merge_consecutive_roles": (
            # identical gaps-and-islands twin: role-change flag via lag
            # over the (idx, tb) total order (tb = event_id, unique, so
            # RANGE vs ROWS framing can't diverge), running sum → block
            # id, in-block text order = the same (idx, tb) order Spark's
            # sort_array(struct(idx, _tb, text)) imposes
            "WITH p AS (SELECT user_id AS conv_id, event_id % 13 AS idx, "
            "CASE WHEN event_type IN ('click','view') THEN 'user' "
            "ELSE 'assistant' END AS role, event_type AS text, "
            "event_id AS tb FROM events), "
            "r AS (SELECT *, CASE WHEN lag(role) OVER w IS NULL "
            "OR lag(role) OVER w <> role THEN 1 ELSE 0 END AS chg "
            "FROM p WINDOW w AS (PARTITION BY conv_id ORDER BY idx, tb)), "
            "b AS (SELECT *, SUM(chg) OVER "
            "(PARTITION BY conv_id ORDER BY idx, tb) AS blk FROM r) "
            "SELECT conv_id, CAST(blk - 1 AS BIGINT) AS turn_idx, "
            "MIN(role) AS role, "
            "string_agg(text, chr(10) ORDER BY idx, tb, text) AS text "
            "FROM b GROUP BY conv_id, blk"
        ),
        "fim_transform": (
            # the chained affine hashes and codepoint substr replayed
            # exactly (A=625341585, B=461845907, P=2^31-1); h2 chains
            # off h1, cuts are mod (n+1), swapped into order
            "WITH h AS (SELECT doc_id, text, length(text) AS n, "
            "(625341585 * (doc_id % 2147483647) + 461845907) % 2147483647 AS h1 "
            "FROM documents), "
            "c AS (SELECT doc_id, text, n, h1, "
            "(625341585 * h1 + 461845907) % 2147483647 AS h2, "
            "((625341585 * (doc_id % 2147483647) + 461845907) % 2147483647) "
            "/ 2147483647.0 < 0.5 AS fim FROM h), "
            "k AS (SELECT *, least(h1 % (n + 1), h2 % (n + 1)) AS lo, "
            "greatest(h1 % (n + 1), h2 % (n + 1)) AS hi FROM c) "
            "SELECT doc_id, fim, CASE WHEN fim THEN "
            "'<fim_prefix>' || substr(text, 1, lo) "
            "|| '<fim_suffix>' || substr(text, hi + 1, n - hi) "
            "|| '<fim_middle>' || substr(text, lo + 1, hi - lo) "
            "ELSE text END AS text FROM k"
        ),
        "render_chat": (
            # piece build + ordered string_agg; lengths are codepoints
            # in both engines
            "WITH t AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id, "
            "CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS BIGINT) AS turn_idx, "
            "CASE WHEN event_type IN ('click','view') THEN 'user' "
            "ELSE 'assistant' END AS role, props AS text FROM events), "
            "p AS (SELECT conv_id, turn_idx, '<|im_start|>' || role || chr(10) "
            "|| text || '<|im_end|>' || chr(10) AS piece FROM t) "
            "SELECT conv_id, string_agg(piece, '' ORDER BY turn_idx) AS text, "
            "COUNT(*) AS n_turns, "
            "CAST(length(string_agg(piece, '' ORDER BY turn_idx)) AS BIGINT) AS n_chars "
            "FROM p GROUP BY conv_id"
        ),
        "dedup_conversations": (
            # same rendered string as render_chat; groups on the raw
            # render (Spark keys on its hash+len — identical groups)
            "WITH t AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id, "
            "CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS BIGINT) AS turn_idx, "
            "CASE WHEN event_type IN ('click','view') THEN 'user' "
            "ELSE 'assistant' END AS role, props AS text FROM events), "
            "p AS (SELECT conv_id, turn_idx, '<|im_start|>' || role || chr(10) "
            "|| text || '<|im_end|>' || chr(10) AS piece FROM t), "
            "r AS (SELECT conv_id, string_agg(piece, '' ORDER BY turn_idx) AS text, "
            "CAST(COUNT(*) AS BIGINT) AS n_turns FROM p GROUP BY conv_id), "
            "g AS (SELECT text, CAST(count(*) AS BIGINT) AS group_size, "
            "min(conv_id) AS keeper FROM r GROUP BY text) "
            "SELECT r.conv_id, r.n_turns, g.group_size, "
            "CAST(CASE WHEN r.conv_id = g.keeper THEN 1 ELSE 0 END AS BIGINT) AS keep "
            "FROM r JOIN g ON r.text = g.text"
        ),
        "loss_spans": (
            # exclusive prefix sum of piece lengths over the identical
            # turn order; header = len('<|im_start|>') + len(role) + 1,
            # piece = header + len(text) + len('<|im_end|>\n') = +11
            "WITH t AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id, "
            "CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS BIGINT) AS turn_idx, "
            "CASE WHEN event_type IN ('click','view') THEN 'user' "
            "ELSE 'assistant' END AS role, props AS text FROM events), "
            "p AS (SELECT conv_id, turn_idx, role, length(text) AS tlen, "
            "12 + length(role) + 1 AS hdr, "
            "12 + length(role) + 1 + length(text) + 11 AS plen FROM t), "
            "o AS (SELECT *, COALESCE(SUM(plen) OVER (PARTITION BY conv_id "
            "ORDER BY turn_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off "
            "FROM p) "
            "SELECT conv_id, turn_idx, CAST(off + hdr AS BIGINT) AS start, "
            "CAST(off + hdr + tlen AS BIGINT) AS \"end\" "
            "FROM o WHERE role = 'assistant'"
        ),
        "exact_quantiles_value": (
            # nearest-rank with pure integer arithmetic: rank =
            # (pm*n + 999) // 1000, value at that 1-based position
            "WITH v AS (SELECT CAST(round(value * 100) AS BIGINT) AS x "
            "FROM events), "
            "r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v), "
            "n AS (SELECT COUNT(*) AS n FROM v), "
            "p AS (SELECT unnest([10, 250, 500, 900, 990, 999]) AS permille) "
            "SELECT CAST(p.permille AS BIGINT) AS permille, "
            "CAST((p.permille * n.n + 999) // 1000 AS BIGINT) AS rank, "
            "r.x AS value, n.n AS n FROM p, n "
            "JOIN r ON r.rn = (p.permille * n.n + 999) // 1000"
        ),
        "time_rollup_events": (
            # grouping sets ≡ UNION ALL of the per-resolution group-bys
            "WITH s AS (SELECT event_type, ts, "
            "CAST(round(value * 100) AS BIGINT) AS v FROM events) "
            "SELECT 'hour' AS resolution, "
            "CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_start, "
            "event_type, COUNT(*) AS n_rows, CAST(SUM(v) AS BIGINT) AS sum_x1e2, "
            "CAST(floor(epoch(MIN(ts))) AS BIGINT) AS first_epoch, "
            "CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last_epoch "
            "FROM s GROUP BY 2, 3 "
            "UNION ALL "
            "SELECT 'day', CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT), "
            "event_type, COUNT(*), CAST(SUM(v) AS BIGINT), "
            "CAST(floor(epoch(MIN(ts))) AS BIGINT), "
            "CAST(floor(epoch(MAX(ts))) AS BIGINT) "
            "FROM s GROUP BY 2, 3"
        ),
        "interval_join_sessions": (
            # sessions via the gaps-and-islands twin, then a plain
            # inequality join — fine at gate scale; the Spark side's
            # bucketization must produce the identical pair set
            "WITH m AS (SELECT user_id, ts, event_id, CASE WHEN lag(ts) OVER "
            "(PARTITION BY user_id ORDER BY ts) IS NULL OR ts - lag(ts) OVER "
            "(PARTITION BY user_id ORDER BY ts) >= INTERVAL 1800 SECOND THEN 1 ELSE 0 END AS brk "
            "FROM events), "
            "x AS (SELECT user_id, ts, event_id, sum(brk) OVER (PARTITION BY user_id "
            "ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m), "
            "sess AS (SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s, "
            "CAST(floor(epoch(max(ts))) AS BIGINT) AS session_last_s, "
            "count(*) AS n_rows FROM x GROUP BY user_id, sid), "
            "pts AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events) "
            "SELECT p.user_id, p.event_id, p.t, s.session_start_s, "
            "s.session_last_s, s.n_rows FROM pts p JOIN sess s "
            "ON p.user_id = s.user_id AND s.session_start_s <= p.t "
            "AND p.t <= s.session_last_s"
        ),
        "asof_join_events": (
            # DuckDB's native ASOF LEFT JOIN is the semantic oracle for
            # the union-and-scan plan; build side unique per (user, ts)
            "WITH probe AS (SELECT user_id, ts, event_id FROM events "
            "WHERE event_type IN ('click','view')), "
            "build AS (SELECT user_id, ts, MAX(props) AS props FROM events "
            "WHERE event_type = 'purchase' GROUP BY 1, 2) "
            "SELECT p.user_id, p.event_id, "
            "CAST(floor(epoch(p.ts)) AS BIGINT) AS probe_epoch, "
            "CAST(floor(epoch(b.ts)) AS BIGINT) AS match_epoch, "
            "b.props AS props_r "
            "FROM probe p ASOF LEFT JOIN build b "
            "ON p.user_id = b.user_id AND p.ts >= b.ts"
        ),
        "kg_fact_as_of": (
            # independent derivation: latest assertion per key among
            # those at or before the cut (proven ≡ interval filter in
            # tests/test_temporal.py), version = distinct value runs
            # up to the cut minus one
            "WITH a AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS s, "
            "event_type AS p, props AS o, ts FROM events "
            "WHERE ts <= TIMESTAMP '2024-01-10 00:00:00'), "
            "r AS (SELECT *, CASE WHEN lag(o) OVER w IS NULL "
            "OR lag(o) OVER w <> o THEN 1 ELSE 0 END AS chg, "
            "row_number() OVER (PARTITION BY s, p ORDER BY ts DESC, o DESC) "
            "AS rn FROM a WINDOW w AS (PARTITION BY s, p ORDER BY ts, o)), "
            "v AS (SELECT *, SUM(chg) OVER "
            "(PARTITION BY s, p ORDER BY ts, o) AS ver FROM r) "
            "SELECT s, p, o, CAST(ver - 1 AS BIGINT) AS version "
            "FROM v WHERE rn = 1"
        ),
        "conversation_stats": (
            "WITH t AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id, "
            "CASE WHEN event_type IN ('click','view') THEN 'user' "
            "WHEN event_type = 'purchase' THEN 'tool' "
            "ELSE 'assistant' END AS role, props AS text, "
            "CASE WHEN event_type = 'purchase' THEN props END AS tool, ts "
            "FROM events) "
            "SELECT conv_id, COUNT(*) AS n_turns, "
            "CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user_turns, "
            "CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant_turns, "
            "CAST(SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_turns, "
            "COUNT(DISTINCT tool) AS n_tools, "
            "CAST(SUM(length(text)) AS BIGINT) AS total_chars, "
            "CAST(MAX(length(text)) AS BIGINT) AS max_turn_chars, "
            "CAST(floor(epoch(MAX(ts))) - floor(epoch(MIN(ts))) AS BIGINT) AS duration_s "
            "FROM t GROUP BY conv_id"
        ),
        "tool_stats": (
            "SELECT props AS tool, COUNT(*) AS n_calls, "
            "COUNT(DISTINCT user_id) AS n_conversations, "
            "CAST(floor(epoch(MIN(ts))) AS BIGINT) AS first_epoch, "
            "CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last_epoch "
            "FROM events WHERE event_type = 'purchase' GROUP BY props"
        ),
        "kg_inverse_predicates": (
            "WITH t AS (SELECT DISTINCT l_orderkey % 499 AS s, "
            "'p' || CAST(l_linenumber % 3 AS VARCHAR) AS p, "
            "l_partkey % 499 AS o FROM lineitem), "
            "marg AS (SELECT p, COUNT(*) AS n FROM t GROUP BY p), "
            "ov AS (SELECT f.p AS p, r.p AS q, COUNT(*) AS n_overlap "
            "FROM t f JOIN t r ON f.s = r.o AND f.o = r.s GROUP BY 1, 2) "
            "SELECT ov.p, ov.q, ov.n_overlap, "
            "mp.n AS n_p, mq.n AS n_q FROM ov "
            "JOIN marg mp ON mp.p = ov.p JOIN marg mq ON mq.p = ov.q"
        ),
        "kg_rdfs_closure": (
            "WITH RECURSIVE sub(s, o) AS ("
            "SELECT 'n' || CAST(n_nationkey AS VARCHAR), "
            "'r' || CAST(n_regionkey AS VARCHAR) FROM nation "
            "UNION ALL "
            "SELECT 'r' || CAST(r_regionkey AS VARCHAR), 'thing' FROM region), "
            "clo(s, o) AS ("
            "SELECT s, o FROM sub "
            "UNION "
            "SELECT c.s, e.o FROM clo c JOIN sub e ON c.o = e.s), "
            "typ(s, o) AS (SELECT 'c' || CAST(c_custkey AS VARCHAR), "
            "'n' || CAST(c_nationkey AS VARCHAR) FROM customer), "
            "alltyp AS (SELECT DISTINCT s, o FROM ("
            "SELECT s, o FROM typ UNION ALL "
            "SELECT t.s, c.o FROM typ t JOIN clo c ON t.o = c.s)) "
            "SELECT s, 'type' AS p, o FROM alltyp "
            "UNION ALL SELECT s, 'subClassOf' AS p, o FROM clo"
        ),
        "kg_sameas_smush": (
            # identical smush semantics: recursive min-label CC over the
            # symmetrized sameAs graph, LEFT-join rewrite, DISTINCT
            "WITH RECURSIVE e AS (SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS a, "
            "'r' || CAST(n_regionkey AS VARCHAR) AS b FROM nation), "
            "sym AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e), "
            "reach AS (SELECT DISTINCT src AS node, src AS lbl FROM sym "
            "UNION SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.node), "
            "cmap AS (SELECT node, min(lbl) AS canon FROM reach GROUP BY node), "
            "t AS (SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS s, 'in_region' AS p, "
            "'r' || CAST(n_regionkey AS VARCHAR) AS o FROM nation "
            "UNION ALL SELECT 'c' || CAST(c_custkey AS VARCHAR), 'in_nation', "
            "'n' || CAST(c_nationkey AS VARCHAR) FROM customer "
            "UNION ALL SELECT 's' || CAST(s_suppkey AS VARCHAR), 'in_nation', "
            "'n' || CAST(s_nationkey AS VARCHAR) FROM supplier) "
            "SELECT DISTINCT coalesce(cs.canon, t.s) AS s, t.p AS p, "
            "coalesce(co.canon, t.o) AS o FROM t "
            "LEFT JOIN cmap cs ON cs.node = t.s "
            "LEFT JOIN cmap co ON co.node = t.o"
        ),
        "kg_rhodf_entailment": (
            "WITH RECURSIVE spe(s, o) AS ("
            "SELECT DISTINCT event_type, 'interacts' FROM events "
            "UNION ALL SELECT 'interacts', 'acts'), "
            "spc(s, o) AS (SELECT s, o FROM spe "
            "UNION SELECT c.s, e.o FROM spc c JOIN spe e ON c.o = e.s), "
            "sce(s, o) AS (SELECT * FROM (VALUES ('Agent', 'LegalEntity'), "
            "('LegalEntity', 'Entity'), ('Event', 'Happening')) v(s, o)), "
            "scc(s, o) AS (SELECT s, o FROM sce "
            "UNION SELECT c.s, e.o FROM scc c JOIN sce e ON c.o = e.s), "
            "domt(p, c) AS (SELECT * FROM (VALUES ('interacts', 'Agent')) v(p, c)), "
            "rngt(p, c) AS (SELECT * FROM (VALUES ('interacts', 'Event')) v(p, c)), "
            "inst(s, p, o) AS (SELECT 'u' || CAST(user_id AS VARCHAR), event_type, "
            "'e' || CAST(event_id AS VARCHAR) FROM events), "
            "insta AS (SELECT s, p, o FROM inst "
            "UNION ALL SELECT i.s, c.o, i.o FROM inst i JOIN spc c ON i.p = c.s), "
            "typed AS (SELECT i.s AS s, d.c AS c FROM insta i JOIN domt d ON i.p = d.p "
            "UNION ALL SELECT i.o, r.c FROM insta i JOIN rngt r ON i.p = r.p), "
            "typeda AS (SELECT s, c FROM typed "
            "UNION ALL SELECT t.s, m.o FROM typed t JOIN scc m ON t.c = m.s) "
            "SELECT DISTINCT s, p, o FROM ("
            "SELECT s, p, o FROM insta "
            "UNION ALL SELECT s, 'type', c FROM typeda "
            "UNION ALL SELECT s, 'sp', o FROM spc "
            "UNION ALL SELECT s, 'sc', o FROM scc "
            "UNION ALL SELECT p, 'dom', c FROM domt "
            "UNION ALL SELECT p, 'rng', c FROM rngt)"
        ),
        "kg_bfs_distances": (
            "WITH RECURSIVE e(src, dst) AS ("
            "SELECT 'c' || CAST(o_custkey AS VARCHAR), "
            "'o' || CAST(o_orderkey AS VARCHAR) FROM orders "
            "UNION ALL SELECT 'o' || CAST(l_orderkey AS VARCHAR), "
            "'p' || CAST(l_partkey AS VARCHAR) FROM lineitem "
            "UNION ALL SELECT 'p' || CAST(l_partkey AS VARCHAR), "
            "'s' || CAST(l_suppkey AS VARCHAR) FROM lineitem), "
            "d(node, dist) AS ("
            "SELECT 'c' || CAST(c_custkey AS VARCHAR), 0 FROM customer "
            "WHERE c_nationkey = 0 "
            "UNION SELECT e.dst, d.dist + 1 FROM d JOIN e ON e.src = d.node "
            "WHERE d.dist < 3) "
            "SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM d GROUP BY node"
        ),
        "kg_property_table": (
            "SELECT 'u' || CAST(user_id AS VARCHAR) AS s, "
            "coalesce(min(CASE WHEN event_type = 'click' THEN props END), '-') AS click, "
            "coalesce(min(CASE WHEN event_type = 'view' THEN props END), '-') AS view, "
            "coalesce(min(CASE WHEN event_type = 'purchase' THEN props END), '-') AS purchase "
            "FROM events WHERE event_type IN ('click', 'view', 'purchase') "
            "GROUP BY 1"
        ),
        "kg_table_to_triples": (
            "SELECT CAST(n_nationkey AS VARCHAR) AS s, 'n_name' AS p, "
            "n_name AS o FROM nation WHERE n_name IS NOT NULL "
            "UNION ALL SELECT CAST(n_nationkey AS VARCHAR), 'n_regionkey', "
            "CAST(n_regionkey AS VARCHAR) FROM nation "
            "WHERE n_regionkey IS NOT NULL"
        ),
        "kg_degree_histogram": (
            "WITH e AS (SELECT DISTINCT l_orderkey AS u, l_partkey AS v "
            "FROM lineitem), "
            "d AS (SELECT u, COUNT(*) AS degree FROM e GROUP BY u) "
            "SELECT CAST(degree AS BIGINT) AS degree, "
            "CAST(COUNT(*) AS BIGINT) AS n_nodes FROM d GROUP BY 1"
        ),
        "kg_weighted_distances": (
            # hop-bounded Bellman-Ford replayed as bounded path
            # enumeration; recursive UNION dedups (source,node,dist,hops)
            # states, which small integer costs keep bounded
            "WITH RECURSIVE "
            "e AS (SELECT CAST(l_partkey % 499 AS BIGINT) AS s, "
            "CAST(l_suppkey % 499 AS BIGINT) AS d, "
            "MIN(CAST(l_quantity AS BIGINT)) AS w "
            "FROM lineitem WHERE l_orderkey % 50 = 0 GROUP BY 1, 2), "
            "walk(source, node, dist, hops) AS ("
            "SELECT CAST(x AS BIGINT), CAST(x AS BIGINT), "
            "CAST(0 AS BIGINT), 0 FROM (SELECT unnest([0, 1]) AS x) "
            "UNION "
            "SELECT wk.source, e.d, wk.dist + e.w, wk.hops + 1 "
            "FROM walk wk JOIN e ON e.s = wk.node WHERE wk.hops < 3) "
            "SELECT source, node, MIN(dist) AS dist FROM walk "
            "GROUP BY source, node"
        ),
        "kg_random_walks": (
            # the walk contract replayed step-for-step: h1 = H(walk_id),
            # step t moves to neighbor H(h1 + t) mod out_deg in
            # dst-ascending index order (H = (625341585*k + 461845907)
            # mod 2^31-1, operators/sampling._A/_B over dedup._P)
            "WITH RECURSIVE "
            "e AS (SELECT DISTINCT CAST(l_partkey % 499 AS BIGINT) AS s, "
            "CAST(l_suppkey % 499 AS BIGINT) AS d FROM lineitem), "
            "adj AS (SELECT s, d, ROW_NUMBER() OVER "
            "(PARTITION BY s ORDER BY d) - 1 AS idx FROM e), "
            "deg AS (SELECT s, COUNT(*) AS deg FROM e GROUP BY s), "
            "starts AS (SELECT s * 2 + w.i AS walk_id, s AS node "
            "FROM deg CROSS JOIN (SELECT unnest([0, 1]) AS i) w), "
            "walk(walk_id, step, node, h1) AS ("
            "SELECT walk_id, CAST(0 AS BIGINT), node, "
            "(625341585 * (walk_id % 2147483647) + 461845907) % 2147483647 "
            "FROM starts "
            "UNION ALL "
            "SELECT wk.walk_id, wk.step + 1, adj.d, wk.h1 "
            "FROM walk wk "
            "JOIN deg ON deg.s = wk.node "
            "JOIN adj ON adj.s = wk.node AND adj.idx = "
            "((625341585 * ((wk.h1 + wk.step + 1) % 2147483647) "
            "+ 461845907) % 2147483647) % deg.deg "
            "WHERE wk.step < 6) "
            "SELECT CAST(walk_id AS BIGINT) AS walk_id, "
            "CAST(step AS BIGINT) AS step, CAST(node AS BIGINT) AS node "
            "FROM walk"
        ),
        "kg_link_prediction": (
            # wedge expansion replayed verbatim: adjacency both ways,
            # center-degree cap BEFORE pairing, degrees over ALL edges,
            # anti-join out adjacent pairs; integer columns only
            "WITH raw AS (SELECT DISTINCT o_custkey AS a, "
            "1000000 + (l_partkey % 499) AS b "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE l_orderkey % 50 = 0), "
            "e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v "
            "FROM raw WHERE a <> b), "
            "adj AS (SELECT u AS node, v AS c FROM e "
            "UNION ALL SELECT v, u FROM e), "
            "deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY node), "
            "ctr AS (SELECT node AS c, d FROM deg WHERE d <= 200), "
            "w AS (SELECT l.node AS x, r.node AS y, COUNT(*) AS cn "
            "FROM adj l JOIN ctr ON l.c = ctr.c "
            "JOIN adj r ON r.c = ctr.c AND l.node < r.node "
            "GROUP BY l.node, r.node), "
            "nonadj AS (SELECT w.* FROM w LEFT JOIN e "
            "ON w.x = e.u AND w.y = e.v WHERE e.u IS NULL) "
            "SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, "
            "CAST(cn AS BIGINT) AS cn, CAST(dx.d AS BIGINT) AS deg_x, "
            "CAST(dy.d AS BIGINT) AS deg_y, "
            "CAST(dx.d + dy.d - cn AS BIGINT) AS n_union "
            "FROM nonadj JOIN deg dx ON dx.node = nonadj.x "
            "JOIN deg dy ON dy.node = nonadj.y"
        ),
        "dedup_keep_best": (
            "SELECT lang, source, doc_id, text, n_chars FROM ("
            "SELECT *, row_number() OVER (PARTITION BY lang, source "
            "ORDER BY n_chars DESC, doc_id ASC) AS rn FROM documents) "
            "WHERE rn = 1"
        ),
        "json_field_stats": (
            "WITH a AS (SELECT event_type, "
            "CAST(json_extract_string(props, '$.k') AS BIGINT) AS v FROM events) "
            "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
            "CAST(COUNT(v) AS BIGINT) AS n_present, "
            "CAST(coalesce(SUM(v), 0) AS BIGINT) AS sum_val, "
            "CAST(coalesce(MIN(v), 0) AS BIGINT) AS min_val, "
            "CAST(coalesce(MAX(v), 0) AS BIGINT) AS max_val "
            "FROM a GROUP BY 1"
        ),
        "trailing_counts_events": (
            "WITH a AS (SELECT event_id, user_id, "
            "CAST(floor(epoch(ts)) AS BIGINT) AS es, "
            "CAST(floor(value * 100) AS BIGINT) AS v FROM events) "
            "SELECT event_id, user_id, "
            "CAST(COUNT(*) OVER w AS BIGINT) AS n_prev, "
            "CAST(coalesce(SUM(v) OVER w, 0) AS BIGINT) AS sum_prev "
            "FROM a WINDOW w AS (PARTITION BY user_id ORDER BY es "
            "RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING)"
        ),
        "event_transitions": (
            "WITH t AS (SELECT event_type, lag(event_type) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events) "
            "SELECT prev AS prev_state, event_type AS state, "
            "CAST(COUNT(*) AS BIGINT) AS n FROM t "
            "WHERE prev IS NOT NULL GROUP BY 1, 2"
        ),
        "er_fuzzy_pairs": (
            # same normalization (strip non-alnum, lower), same prefix
            # block, same metric — DuckDB's levenshtein is the standard DP
            "WITH n AS (SELECT DISTINCT "
            "regexp_replace(lower(p_name), '[^a-z0-9]', '', 'g') AS name "
            "FROM part WHERE length(regexp_replace(lower(p_name), "
            "'[^a-z0-9]', '', 'g')) > 0) "
            "SELECT a.name AS name_a, b.name AS name_b, "
            "CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist "
            "FROM n a JOIN n b ON substr(a.name, 1, 1) = substr(b.name, 1, 1) "
            "AND a.name < b.name "
            "WHERE levenshtein(a.name, b.name) <= 3"
        ),
        "time_resample_events": (
            "WITH a AS (SELECT event_type, "
            "CAST(floor(epoch(ts)) AS BIGINT) AS es, "
            "CAST(floor(value * 100) AS BIGINT) AS v FROM events), "
            "per AS (SELECT event_type, es - es % 3600 AS bucket, "
            "COUNT(*) AS n, SUM(v) AS total FROM a GROUP BY 1, 2), "
            "spans AS (SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi "
            "FROM per GROUP BY 1), "
            "grid AS (SELECT event_type, "
            "unnest(generate_series(lo, hi, 3600)) AS bucket FROM spans) "
            "SELECT g.event_type, g.bucket, "
            "CAST(coalesce(p.n, 0) AS BIGINT) AS n, "
            "CAST(coalesce(p.total, 0) AS BIGINT) AS total "
            "FROM grid g LEFT JOIN per p "
            "ON p.event_type = g.event_type AND p.bucket = g.bucket"
        ),
        "grouped_quantiles_chars": (
            "WITH r AS (SELECT lang, n_chars AS value, "
            "row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rk, "
            "COUNT(*) OVER (PARTITION BY lang) AS n FROM documents), "
            "p AS (SELECT unnest([500, 900, 990]) AS permille) "
            "SELECT lang, CAST(permille AS BIGINT) AS permille, "
            "CAST((permille * n + 999) // 1000 AS BIGINT) AS rank, "
            "CAST(value AS BIGINT) AS value, CAST(n AS BIGINT) AS n "
            "FROM r CROSS JOIN p WHERE rk = (permille * n + 999) // 1000"
        ),
        "sample_stratified": (
            # hash-ordered prefix per stratum, same affine contract as
            # sample_hash (A=625341585, B=461845907, P=2^31-1)
            "SELECT doc_id, text, lang, source, n_chars FROM ("
            "SELECT *, row_number() OVER (PARTITION BY lang ORDER BY "
            "(625341585 * (doc_id % 2147483647) + 461845907) % 2147483647, "
            "doc_id) AS rn FROM documents) WHERE rn <= 50"
        ),
        "kg_fact_history": (
            # identical gaps-and-islands twin over the (ts, o) order;
            # RANGE-framed running sum ties out because (ts, o) peers
            # share one o (see operators/schema.py fact_history)
            "WITH a AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS s, "
            "event_type AS p, props AS o, ts FROM events), "
            "r AS (SELECT *, CASE WHEN lag(o) OVER w IS NULL "
            "OR lag(o) OVER w <> o THEN 1 ELSE 0 END AS chg FROM a "
            "WINDOW w AS (PARTITION BY s, p ORDER BY ts, o)), "
            "v AS (SELECT *, SUM(chg) OVER "
            "(PARTITION BY s, p ORDER BY ts, o) AS ver FROM r), "
            "runs AS (SELECT s, p, ver, MIN(o) AS o, MIN(ts) AS valid_from "
            "FROM v GROUP BY s, p, ver) "
            "SELECT s, p, o, "
            "CAST(floor(epoch(valid_from)) AS BIGINT) AS from_epoch, "
            "CAST(floor(epoch(lead(valid_from) OVER "
            "(PARTITION BY s, p ORDER BY ver))) AS BIGINT) AS to_epoch, "
            "CAST(ver - 1 AS BIGINT) AS version FROM runs"
        ),
        "kg_current_facts": (
            # DuckDB max_by rejects composite keys — rank the same
            # (ts, o) total order descending instead
            "WITH a AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS s, "
            "event_type AS p, props AS o, ts FROM events), "
            "x AS (SELECT *, row_number() OVER "
            "(PARTITION BY s, p ORDER BY ts DESC, o DESC) AS rn, "
            "CAST(floor(epoch(MAX(ts) OVER (PARTITION BY s, p))) AS BIGINT) "
            "AS as_of_epoch FROM a) "
            "SELECT s, p, o, as_of_epoch FROM x WHERE rn = 1"
        ),
        "kg_negative_samples": (
            # draw/bump/filter replayed exactly: rank = sorted-pool
            # row_number-1; H = (s%P*A1 + p%P*A2 + o%P*A3 + j*C + D) % P
            # with A1=625341585 A2=461845907 A3=1000003 C=69069 D=12345
            "WITH t AS (SELECT l_orderkey % 9973 AS s, "
            "CAST(l_linenumber AS BIGINT) AS p, l_partkey % 9973 AS o "
            "FROM lineitem), "
            "ranked AS (SELECT o AS neg, row_number() OVER (ORDER BY o) - 1 "
            "AS rank FROM (SELECT DISTINCT o FROM t)), "
            "nn AS (SELECT COUNT(*) AS n FROM ranked), "
            "d AS (SELECT s, p, o, j.neg_idx, "
            "((s % 2147483647) * 625341585 + (p % 2147483647) * 461845907 "
            "+ (o % 2147483647) * 1000003 + j.neg_idx * 69069 + 12345) "
            "% 2147483647 AS h FROM t CROSS JOIN "
            "(VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT))) j(neg_idx)), "
            "r AS (SELECT d.s, d.p, d.o, d.neg_idx, "
            "CASE WHEN d.h % nn.n = ro.rank THEN (d.h % nn.n + 1) % nn.n "
            "ELSE d.h % nn.n END AS rank FROM d, nn "
            "JOIN ranked ro ON ro.neg = d.o) "
            "SELECT r.s, r.p, rk.neg AS o, r.neg_idx FROM r "
            "JOIN ranked rk ON rk.rank = r.rank "
            "WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.s = r.s "
            "AND t.p = r.p AND t.o = rk.neg)"
        ),
        "kg_domain_range": (
            # typing joins → (p, cls) counts → row_number modal pick,
            # ties on class ascending; left joins keep untyped predicates
            """
WITH triples AS (
  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS s, 'in_nation' AS p,
         'n' || CAST(c_nationkey AS VARCHAR) AS o FROM customer
  UNION ALL SELECT 's' || CAST(s_suppkey AS VARCHAR), 'in_nation',
         'n' || CAST(s_nationkey AS VARCHAR) FROM supplier
  UNION ALL SELECT 'o' || CAST(o_orderkey AS VARCHAR), 'placed_by',
         'c' || CAST(o_custkey AS VARCHAR) FROM orders
  UNION ALL SELECT 'o' || CAST(l_orderkey AS VARCHAR), 'contains',
         'p' || CAST(l_partkey AS VARCHAR) FROM lineitem
), types AS (
  SELECT DISTINCT e, cls FROM (
    SELECT 'c' || CAST(c_custkey AS VARCHAR) AS e, 'Customer' AS cls FROM customer
    UNION ALL SELECT 's' || CAST(s_suppkey AS VARCHAR), 'Supplier' FROM supplier
    UNION ALL SELECT 'n' || CAST(n_nationkey AS VARCHAR), r_name
      FROM nation JOIN region ON n_regionkey = r_regionkey
    UNION ALL SELECT 'o' || CAST(o_orderkey AS VARCHAR), o_orderpriority FROM orders
    UNION ALL SELECT 'p' || CAST(p_partkey AS VARCHAR), p_brand FROM part
  )
), nt AS (
  SELECT p, CAST(count(*) AS BIGINT) AS n_triples FROM triples GROUP BY p
), ds AS (
  SELECT t.p, ty.cls, count(*) AS cnt
  FROM triples t JOIN types ty ON t.s = ty.e GROUP BY t.p, ty.cls
), rs AS (
  SELECT t.p, ty.cls, count(*) AS cnt
  FROM triples t JOIN types ty ON t.o = ty.e GROUP BY t.p, ty.cls
), dtop AS (
  SELECT p, cls AS domain_cls, CAST(cnt AS BIGINT) AS domain_support,
         row_number() OVER (PARTITION BY p ORDER BY cnt DESC, cls ASC) AS rn
  FROM ds
), rtop AS (
  SELECT p, cls AS range_cls, CAST(cnt AS BIGINT) AS range_support,
         row_number() OVER (PARTITION BY p ORDER BY cnt DESC, cls ASC) AS rn
  FROM rs
), dtot AS (SELECT p, CAST(sum(cnt) AS BIGINT) AS n_typed_s FROM ds GROUP BY p),
   rtot AS (SELECT p, CAST(sum(cnt) AS BIGINT) AS n_typed_o FROM rs GROUP BY p)
SELECT nt.p, nt.n_triples,
       dtop.domain_cls, dtop.domain_support, dtot.n_typed_s,
       rtop.range_cls, rtop.range_support, rtot.n_typed_o
FROM nt
LEFT JOIN (SELECT * FROM dtop WHERE rn = 1) dtop ON nt.p = dtop.p
LEFT JOIN dtot ON nt.p = dtot.p
LEFT JOIN (SELECT * FROM rtop WHERE rn = 1) rtop ON nt.p = rtop.p
LEFT JOIN rtot ON nt.p = rtot.p
"""
        ),
        "kg_predicate_profile": (
            # the same dedup → (p,s)/(p,o) group → per-p reduce → join
            "WITH ev AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS u, "
            "'e' || CAST(event_id AS VARCHAR) AS e, event_type, props FROM events), "
            "t AS (SELECT DISTINCT s, p, o FROM ("
            "SELECT u AS s, event_type AS p, props AS o FROM ev "
            "UNION ALL SELECT e, 'has_user', u FROM ev "
            "UNION ALL SELECT e, 'has_props', props FROM ev)), "
            "bs AS (SELECT p, SUM(outd) AS n_triples, COUNT(*) AS n_subjects, "
            "MAX(outd) AS max_out FROM (SELECT p, s, COUNT(*) AS outd FROM t "
            "GROUP BY p, s) GROUP BY p), "
            "bo AS (SELECT p, COUNT(*) AS n_objects, MAX(ind) AS max_in FROM "
            "(SELECT p, o, COUNT(*) AS ind FROM t GROUP BY p, o) GROUP BY p) "
            "SELECT bs.p, CAST(n_triples AS BIGINT) AS n_triples, "
            "CAST(n_subjects AS BIGINT) AS n_subjects, "
            "CAST(n_objects AS BIGINT) AS n_objects, "
            "CAST(max_out AS BIGINT) AS max_out, CAST(max_in AS BIGINT) AS max_in, "
            "max_out = 1 AS is_functional, max_in = 1 AS is_inverse_functional, "
            "CASE WHEN max_out = 1 AND max_in = 1 THEN '1:1' "
            "WHEN max_out = 1 THEN 'N:1' WHEN max_in = 1 THEN '1:N' "
            "ELSE 'N:M' END AS card "
            "FROM bs JOIN bo ON bs.p = bo.p"
        ),
        "kg_fact_provenance": (
            "SELECT 'u' || CAST(user_id AS VARCHAR) AS s, event_type AS p, "
            "props AS o, COUNT(*) AS n_assertions, "
            "COUNT(DISTINCT event_id // 50) AS n_conversations, "
            "CAST(floor(epoch(MIN(ts))) AS BIGINT) AS first_epoch, "
            "CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last_epoch "
            "FROM events GROUP BY 1, 2, 3"
        ),
        "kg_fuse_facts": (
            # votes = conversation-distinct support per (s,p,o); winner by
            # (max votes, min o) — the same min(struct(-votes, o)) rule
            "WITH a AS (SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS s, "
            "event_type AS p, props AS o, event_id // 50 AS conv FROM events), "
            "v AS (SELECT s, p, o, COUNT(*) AS votes FROM a GROUP BY 1, 2, 3), "
            "w AS (SELECT s, p, min(struct_pack(nv := -votes, o := o)) AS w, "
            "CAST(SUM(votes) AS BIGINT) AS total_votes, "
            "CAST(COUNT(*) AS BIGINT) AS n_candidates FROM v GROUP BY s, p) "
            "SELECT s, p, w.o AS o, CAST(-w.nv AS BIGINT) AS support, "
            "total_votes, n_candidates, "
            "CAST(floor(1000 * (-w.nv) / total_votes) AS BIGINT) AS confidence_x1000 "
            "FROM w"
        ),
        "kg_cooccurrence": (
            # presence-deduped (doc, token) frame, pair expansion on the
            # doc key, marginals + total over the SAME deduped frame
            "WITH gi AS (SELECT DISTINCT doc_id AS g, "
            "unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS i "
            "FROM documents WHERE trim(text) <> ''), "
            "nab AS (SELECT l.i AS a, r.i AS b, COUNT(*) AS n_ab FROM gi l "
            "JOIN gi r ON l.g = r.g AND l.i < r.i GROUP BY l.i, r.i), "
            "ni AS (SELECT i, COUNT(*) AS n FROM gi GROUP BY i), "
            "ng AS (SELECT COUNT(DISTINCT g) AS n_groups FROM gi) "
            "SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab, "
            "CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b, "
            "CAST(ng.n_groups AS BIGINT) AS n_groups "
            "FROM nab JOIN ni na ON na.i = nab.a "
            "JOIN ni nb ON nb.i = nab.b CROSS JOIN ng"
        ),
        "kg_clustering": (
            # degree + wedges from the canonical edge set; triangles via
            # the same x<y<z enumeration twin as kg_triangles, 0-filled
            "WITH raw AS (SELECT DISTINCT "
            "LEAST(l_orderkey % 9973, l_partkey % 9973) AS u, "
            "GREATEST(l_orderkey % 9973, l_partkey % 9973) AS v "
            "FROM lineitem WHERE l_orderkey % 9973 <> l_partkey % 9973), "
            "deg AS (SELECT n, COUNT(*) AS d FROM "
            "(SELECT u AS n FROM raw UNION ALL SELECT v FROM raw) GROUP BY n), "
            "tri AS (SELECT a.u AS x, a.v AS y, b.v AS z FROM raw a "
            "JOIN raw b ON b.u = a.v "
            "JOIN raw c ON c.u = a.u AND c.v = b.v), "
            "corners AS (SELECT x AS node FROM tri "
            "UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri), "
            "cnt AS (SELECT node, COUNT(*) AS t FROM corners GROUP BY node) "
            "SELECT deg.n AS node, CAST(deg.d AS BIGINT) AS degree, "
            "CAST(COALESCE(cnt.t, 0) AS BIGINT) AS triangles, "
            "CAST((deg.d * (deg.d - 1)) // 2 AS BIGINT) AS wedges "
            "FROM deg LEFT JOIN cnt ON cnt.node = deg.n"
        ),
        "g28_sparql_strbind": (
            # literal replay of the BIND string fns over the decoded terms
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL}, "
            "d AS (SELECT 'E' || CAST(s AS VARCHAR) AS x, "
            "'E' || CAST(o AS VARCHAR) AS y FROM t, c WHERE p = c.p0) "
            "SELECT x, lower(substr(x, 1, 1)) || "
            "CASE WHEN strpos(y, 'E') > 0 THEN substr(y, strpos(y, 'E') + 1) "
            "ELSE '' END AS r, "
            "regexp_replace(y, '7', '#', 'g') AS m FROM d"
        ),
        "g25_sparql_bool_filter": (
            # boolean filter: a || (!b && c) — && binds tighter than ||
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL} "
            "SELECT 'E' || CAST(s AS VARCHAR) AS x, 'E' || CAST(o AS VARCHAR) AS y "
            "FROM t, c WHERE p = c.p0 AND ("
            "CAST(s AS VARCHAR) LIKE '1%' OR "
            "(('E' || CAST(o AS VARCHAR)) NOT LIKE '%7%' "
            "AND LENGTH('E' || CAST(o AS VARCHAR)) <= 3))"
        ),
        "g24_sparql_strfns": (
            # string built-ins over decoded terms 'E<id>': STRSTARTS(?x,
            # "E1") = id text starting with '1', CONTAINS(?y, "7") and
            # STRLEN(?y) <= 3 on the object's surface form (bag semantics)
            f"WITH t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL} "
            "SELECT 'E' || CAST(s AS VARCHAR) AS x, 'E' || CAST(o AS VARCHAR) AS y "
            "FROM t, c WHERE p = c.p0 "
            "AND CAST(s AS VARCHAR) LIKE '1%' "
            "AND ('E' || CAST(o AS VARCHAR)) LIKE '%7%' "
            "AND LENGTH('E' || CAST(o AS VARCHAR)) <= 3"
        ),
        "g4_path_closure": (
            f"WITH RECURSIVE t AS ({_TRIPLES_SQL}), {_BGP_CONST_SQL}, "
            "e AS (SELECT DISTINCT t.s, t.o FROM t, c WHERE t.p = c.p0), "
            "reach(s, o) AS (SELECT s, o FROM e "
            "  UNION SELECT r.s, e.o FROM reach r JOIN e ON e.s = r.o) "
            "SELECT s, o FROM reach"
        ),
        "text_token_count": (
            f"SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_TOKS_ALL}) END AS BIGINT) AS n_tokens FROM documents"
        ),
        "text_language_id": _lang_sql(),
        "text_unigram_rarity": (
            # same explode → (doc,tok) dedup → cf reagg → join shape;
            # integers only so both engines agree bit-for-bit
            f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_ALL}) AS tok
  FROM documents WHERE length(trim(text)) > 0
), per AS (
  SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY doc_id, tok
), cf AS (
  SELECT tok, sum(cnt) AS cf FROM per GROUP BY tok
)
SELECT per.doc_id,
       CAST(sum(per.cnt) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(CASE WHEN cf.cf <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare_distinct,
       CAST(sum(CASE WHEN cf.cf <= 2 THEN per.cnt ELSE 0 END) AS BIGINT) AS n_rare_tokens,
       CAST(min(cf.cf) AS BIGINT) AS min_cf
FROM per JOIN cf USING (tok)
GROUP BY per.doc_id
"""
        ),
        "text_lm_surprisal": (
            # LM trained on src0 only; integer division (//) everywhere so
            # the surrogate is engine-exact; penalty = 10, OOV = 2*10*N
            f"""
WITH tdocs AS (
  SELECT {_TOKS_ALL} AS toks FROM documents
  WHERE length(trim(text)) > 0 AND source = 'src0'
), uni AS (
  SELECT w, count(*) AS c FROM (SELECT unnest(toks) AS w FROM tdocs) GROUP BY w
), bilm AS (
  SELECT toks[i] AS w1, toks[i+1] AS w2, count(*) AS c_xy
  FROM tdocs, unnest(range(1, len(toks))) AS t(i) GROUP BY 1, 2
), tot AS (
  SELECT (SELECT sum(c) FROM uni) AS n_uni
), sdocs AS (
  SELECT doc_id, {_TOKS_ALL} AS toks FROM documents
  WHERE length(trim(text)) > 0 AND len({_TOKS_ALL}) >= 2
), sbi AS (
  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, count(*) AS cnt
  FROM sdocs, unnest(range(1, len(toks))) AS t(i) GROUP BY 1, 2, 3
), j AS (
  SELECT sbi.doc_id, sbi.cnt,
         bilm.c_xy IS NOT NULL AS seen,
         bilm.c_xy IS NULL AND cy.c IS NOT NULL AS backoff,
         CASE
           WHEN bilm.c_xy IS NOT NULL THEN cx.c // bilm.c_xy
           WHEN cy.c IS NOT NULL THEN 10 * (tot.n_uni // cy.c)
           ELSE 20 * tot.n_uni
         END AS contrib
  FROM sbi
  LEFT JOIN bilm ON bilm.w1 = sbi.w1 AND bilm.w2 = sbi.w2
  LEFT JOIN uni cx ON cx.w = sbi.w1
  LEFT JOIN uni cy ON cy.w = sbi.w2
  CROSS JOIN tot
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       CAST(sum(CASE WHEN seen THEN cnt ELSE 0 END) AS BIGINT) AS n_seen,
       CAST(sum(CASE WHEN backoff THEN cnt ELSE 0 END) AS BIGINT) AS n_backoff,
       CAST(sum(CASE WHEN NOT seen AND NOT backoff THEN cnt ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(sum(cnt * contrib) AS BIGINT) AS inv_prob_sum
FROM j GROUP BY doc_id
"""
        ),
        "text_vote_classifier": (
            # add-one-smoothed NB likelihood ratio, cross-multiplied to
            # integers; pos = src0/src1, neg = rest; V = union vocab
            f"""
WITH pos_t AS (
  SELECT unnest({_TOKS_ALL}) AS w FROM documents
  WHERE length(trim(text)) > 0 AND source IN ('src0', 'src1')
), neg_t AS (
  SELECT unnest({_TOKS_ALL}) AS w FROM documents
  WHERE length(trim(text)) > 0 AND source NOT IN ('src0', 'src1')
), cp AS (SELECT w, count(*) AS c FROM pos_t GROUP BY w),
cn AS (SELECT w, count(*) AS c FROM neg_t GROUP BY w),
tot AS (
  SELECT (SELECT sum(c) FROM cp) AS n_pos,
         (SELECT sum(c) FROM cn) AS n_neg,
         (SELECT count(*) FROM (SELECT w FROM cp UNION SELECT w FROM cn)) AS v
), per AS (
  SELECT doc_id, w, count(*) AS cnt FROM (
    SELECT doc_id, unnest({_TOKS_ALL}) AS w FROM documents
    WHERE length(trim(text)) > 0
  ) GROUP BY doc_id, w
), j AS (
  SELECT per.doc_id, per.cnt,
         (coalesce(cp.c, 0) + 1) * (tot.n_neg + tot.v) AS lhs,
         (coalesce(cn.c, 0) + 1) * (tot.n_pos + tot.v) AS rhs
  FROM per
  LEFT JOIN cp ON cp.w = per.w
  LEFT JOIN cn ON cn.w = per.w
  CROSS JOIN tot
), agg AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN lhs > rhs THEN cnt ELSE 0 END) AS BIGINT) AS votes_pos,
         CAST(sum(CASE WHEN lhs < rhs THEN cnt ELSE 0 END) AS BIGINT) AS votes_neg
  FROM j GROUP BY doc_id
)
SELECT doc_id, n_tokens, votes_pos, votes_neg,
       CAST(CASE WHEN votes_pos > votes_neg THEN 1 ELSE 0 END AS BIGINT) AS pred
FROM agg
"""
        ),
        "corpus_source_overlap": (
            # distinct (source, 8-gram) sets; containment = one integer
            # IEEE division, identical in any engine
            f"""
WITH grams AS (
  SELECT DISTINCT source AS src, gram
  FROM (
    SELECT source,
           array_to_string(toks[i:i+7], ' ') AS gram
    FROM (
      SELECT source, {_TOKS_ALL} AS toks FROM documents
      WHERE length(trim(text)) > 0
    ), unnest(range(1, len(toks) - 6)) AS t(i)
    WHERE len(toks) >= 8
  )
), totals AS (
  SELECT src, count(*) AS n_grams FROM grams GROUP BY src
)
SELECT a.src AS source_a, b.src AS source_b,
       CAST(ta.n_grams AS BIGINT) AS ngrams_a,
       CAST(tb.n_grams AS BIGINT) AS ngrams_b,
       CAST(count(*) AS BIGINT) AS common,
       CAST(count(*) AS DOUBLE) / CAST(ta.n_grams AS DOUBLE) AS containment_a_in_b
FROM grams a
JOIN grams b ON a.gram = b.gram AND a.src <> b.src
JOIN totals ta ON ta.src = a.src
JOIN totals tb ON tb.src = b.src
GROUP BY a.src, b.src, ta.n_grams, tb.n_grams
"""
        ),
        "text_bigram_pmi": (
            # adjacent bigrams via list positions; lift written in the
            # SAME left-to-right IEEE order as the Spark expression
            f"""
WITH docs AS (
  SELECT {_TOKS_ALL} AS toks FROM documents WHERE length(trim(text)) > 0
), uni AS (
  SELECT w, count(*) AS c FROM (SELECT unnest(toks) AS w FROM docs) GROUP BY w
), bi AS (
  SELECT toks[i] AS w1, toks[i+1] AS w2
  FROM docs, unnest(range(1, len(toks))) AS t(i)
), bic AS (
  SELECT w1, w2, count(*) AS c_xy FROM bi GROUP BY w1, w2 HAVING count(*) >= 5
), tot AS (
  SELECT (SELECT sum(c) FROM uni) AS n_uni,
         (SELECT sum(CASE WHEN len(toks) > 1 THEN len(toks) - 1 ELSE 0 END) FROM docs) AS n_bi
)
SELECT bic.w1, bic.w2,
       CAST(bic.c_xy AS BIGINT) AS c_xy,
       CAST(cx.c AS BIGINT) AS c_x,
       CAST(cy.c AS BIGINT) AS c_y,
       CAST(tot.n_uni AS BIGINT) AS n_uni,
       CAST(tot.n_bi AS BIGINT) AS n_bi,
       CAST(bic.c_xy AS DOUBLE) * CAST(tot.n_uni AS DOUBLE) * CAST(tot.n_uni AS DOUBLE)
         / CAST(tot.n_bi AS DOUBLE) / CAST(cx.c AS DOUBLE) / CAST(cy.c AS DOUBLE) AS lift
FROM bic
JOIN uni cx ON cx.w = bic.w1
JOIN uni cy ON cy.w = bic.w2
CROSS JOIN tot
"""
        ),
        "text_token_bpe": (
            "SELECT doc_id, "
            "CAST(len(regexp_extract_all(text, '[A-Za-z]+')) + len(regexp_extract_all(text, '[0-9]+')) "
            "  + len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens, "
            "CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_word_tokens, "
            "CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_number_tokens, "
            "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_other_tokens "
            "FROM documents"
        ),
        "text_quality": _quality_sql(),
        "text_repetition": (
            # Gopher repetition signals: same explode → count → reagg
            # shape; integer x1000 ratios with explicit floor
            "WITH base AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS a FROM documents), "
            "tok AS (SELECT doc_id, unnest(a) AS tok FROM base), "
            "tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2), "
            "ts AS (SELECT doc_id, sum(c) AS n_tokens, max(c) AS top_token_count FROM tc GROUP BY 1), "
            "bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(a) - 1), i -> a[i] || ' ' || a[i+1])) AS bg FROM base WHERE len(a) > 1), "
            "bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2), "
            "bs AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bigram_count, coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS dup_bigram_tokens FROM bc GROUP BY 1) "
            "SELECT d.doc_id, "
            "CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens, "
            "CAST(coalesce(top_token_count, 0) AS BIGINT) AS top_token_count, "
            "CAST(CASE WHEN coalesce(n_tokens, 0) > 0 THEN floor(top_token_count * 1000 / n_tokens) ELSE 0 END AS BIGINT) AS top_token_ratio_x1000, "
            "CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams, "
            "CAST(coalesce(top_bigram_count, 0) AS BIGINT) AS top_bigram_count, "
            "CAST(coalesce(dup_bigram_tokens, 0) AS BIGINT) AS dup_bigram_tokens, "
            "CAST(CASE WHEN coalesce(n_bigrams, 0) > 0 THEN floor(dup_bigram_tokens * 1000 / n_bigrams) ELSE 0 END AS BIGINT) AS dup_bigram_ratio_x1000 "
            "FROM documents d LEFT JOIN ts USING (doc_id) LEFT JOIN bs USING (doc_id)"
        ),
        "dedup_line": (
            # corpus-wide exact segment dedup: occurrence >= 2 keeps only
            # the (doc_id, pos)-first copy; reassemble in original order
            "WITH d AS (SELECT doc_id, regexp_replace(text, ' table', chr(10) || 'table', 'g') AS text FROM documents), "
            "arr AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d), "
            "seg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ls)), i -> struct_pack(pos := i - 1, line := ls[i])), recursive := true) FROM arr), "
            "sel AS (SELECT doc_id, pos, line, count(*) OVER (PARTITION BY line) AS occ, "
            "row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rk FROM seg), "
            "keep AS (SELECT doc_id, pos, line FROM sel WHERE occ < 2 OR rk = 1) "
            "SELECT d.doc_id, coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS text "
            "FROM d LEFT JOIN keep k USING (doc_id) GROUP BY d.doc_id"
        ),
        "sessionize_events": (
            # gaps-and-islands: break when the gap >= 30 min (Spark's
            # session_window range is end-exclusive: an event exactly at
            # last+gap opens a new session)
            "WITH m AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER "
            "(PARTITION BY user_id ORDER BY ts) IS NULL OR ts - lag(ts) OVER "
            "(PARTITION BY user_id ORDER BY ts) >= INTERVAL 1800 SECOND THEN 1 ELSE 0 END AS brk "
            "FROM events), "
            "s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts "
            "ROWS UNBOUNDED PRECEDING) AS sid FROM m) "
            "SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s, "
            "CAST(floor(epoch(max(ts))) AS BIGINT) AS session_last_s, "
            "count(*) AS n_rows FROM s GROUP BY user_id, sid"
        ),
        "pack_sequences": (
            # exclusive prefix sum over doc_id order; seq = the bin
            # containing the document's first token
            "WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0 "
            "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n FROM documents), "
            "p AS (SELECT doc_id, n, coalesce(sum(n) OVER (ORDER BY doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre FROM t) "
            "SELECT doc_id, CAST(floor(pre / 500.0) AS BIGINT) AS seq_id, "
            "CAST(n AS BIGINT) AS n_tokens, CAST(pre % 500 AS BIGINT) AS start_tok FROM p"
        ),
        "dialogue_pairs": (
            # the same events-derived transcript analogue, the same
            # bounded 3-turn preceding frame; string_agg input order in a
            # framed window = the window order (turn order) in DuckDB,
            # matching Spark's collect_list frame order
            "WITH t AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id, "
            "CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS BIGINT) AS turn_idx, "
            "event_type AS role, event_type || ' ' || props AS text FROM events), "
            "p AS (SELECT conv_id, turn_idx, role, text, "
            "string_agg(role || ': ' || text, chr(10)) OVER "
            "(PARTITION BY conv_id ORDER BY turn_idx ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS ctx "
            "FROM t) "
            "SELECT conv_id, turn_idx, coalesce(ctx, '') AS context, text AS response "
            "FROM p WHERE role = 'purchase'"
        ),
        "winnow_fingerprints": (
            # winnowing: k=5 gram codepoint-polynomial hashes, w=4
            # window, min(struct(hash, pos)) = min hash then leftmost —
            # the same tie rule as the Spark window machinery
            "WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ts FROM documents), "
            "b AS (SELECT doc_id, ts, len(ts) - 4 AS n FROM tok), "
            "g AS (SELECT doc_id, ts, n - 3 AS m, unnest(generate_series(1, n)) AS pos FROM b WHERE n >= 4), "
            "h AS (SELECT doc_id, m, pos, "
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            "list_transform(string_split(array_to_string(list_slice(ts, pos, pos + 4), ' '), ''), "
            "x -> CAST(unicode(x) AS BIGINT))), "
            "(a, c) -> (a * 31 + c) % 2147483647) AS hh FROM g), "
            "s AS (SELECT doc_id, m, pos, "
            "min(struct_pack(h := hh, p := pos)) OVER "
            "(PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel "
            "FROM h) "
            "SELECT DISTINCT doc_id, CAST((sel).p AS BIGINT) AS pos, (sel).h AS gram_hash "
            "FROM s WHERE pos <= m"
        ),
        "redact_pii": (
            # same injection, then the same three regexes in the same
            # order, each stage seeing the previous stage's output
            "WITH d AS (SELECT doc_id, regexp_replace(regexp_replace(text, "
            "' data ', ' mail u1@ex-a.co.uk data ', 'g'), ' table ', "
            "' host 10.0.0.255 tel +44 20 7946 0958 table ', 'g') AS text FROM documents), "
            "s1 AS (SELECT doc_id, text AS t0, "
            "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email, "
            "regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1 FROM d), "
            "s2 AS (SELECT doc_id, n_email, "
            "CAST(len(regexp_extract_all(t1, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS n_ip, "
            "regexp_replace(t1, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g') AS t2 FROM s1) "
            "SELECT doc_id, regexp_replace(t2, '\\+?\\d[\\d -]{7,}\\d', '<PHONE>', 'g') AS text, "
            "n_email, n_ip, "
            "CAST(len(regexp_extract_all(t2, '\\+?\\d[\\d -]{7,}\\d')) AS BIGINT) AS n_phone "
            "FROM s2"
        ),
        "chunk_documents": (
            # chunk starts 1, 1+24, ... <= n; tail chunk short, never
            # empty; text NOT lowercased (chunking must not mutate it)
            "WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts "
            "FROM documents WHERE length(trim(text)) > 0), "
            "k AS (SELECT doc_id, ts, len(ts) AS n, "
            "CAST(floor((len(ts) - 1) / 24.0) AS BIGINT) + 1 AS k FROM tok), "
            "c AS (SELECT doc_id, ts, n, unnest(generate_series(1, k)) AS i FROM k) "
            "SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_idx, "
            "CAST(least(32, n - (i - 1) * 24) AS BIGINT) AS n_tokens, "
            "array_to_string(list_slice(ts, (i - 1) * 24 + 1, (i - 1) * 24 + 32), ' ') AS text "
            "FROM c"
        ),
        "sample_hash": (
            # the affine-hash acceptance predicate, replayed exactly:
            # variate = ((A*(doc_id%P)+B)%P)/P with A=625341585,
            # B=461845907, P=2^31-1 (operators/sampling.py contract)
            "SELECT doc_id, source FROM documents "
            "WHERE ((625341585 * (doc_id % 2147483647) + 461845907) % 2147483647) "
            "/ 2147483647.0 < 0.25"
        ),
        "sample_mixture": (
            # per-stratum rates from the same count agg + peak-demand
            # normalization the operator performs, then the same hash
            # predicate; es/zh are unweighted and drop
            "WITH n AS (SELECT lang AS s, count(*) AS n FROM documents GROUP BY lang), "
            "w(s, w) AS (VALUES ('en', 0.5), ('fr', 0.25), ('de', 0.25)), "
            "d AS (SELECT n.s, w.w / n.n AS dem FROM n JOIN w USING (s)), "
            "r AS (SELECT s, dem / (SELECT max(dem) FROM d) AS rate FROM d) "
            "SELECT doc_id, lang FROM documents JOIN r ON lang = r.s "
            "WHERE ((625341585 * (doc_id % 2147483647) + 461845907) % 2147483647) "
            "/ 2147483647.0 < rate"
        ),
        "text_bm25_search": (
            # BM25 (rational idf, per-term integer floor; k1=1.2 b=0.75):
            # every float op mirrors the Spark expression's association
            "WITH base AS (SELECT doc_id, list_filter(regexp_split_to_array("
            "lower(trim(text)), '\\s+'), x -> len(x) > 0) AS ts FROM documents), "
            "d AS (SELECT doc_id, len(ts) AS dl, ts FROM base), "
            "st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM d), "
            "pairs AS (SELECT doc_id, dl, unnest(ts) AS term FROM d), "
            "tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM pairs "
            "WHERE term IN ('scan', 'join', 'merge') GROUP BY 1, 2, 3), "
            "dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term), "
            "c AS (SELECT doc_id, CAST(floor((1000000.0 * "
            "(((CAST(st.n AS DOUBLE) - df) + 0.5) / (df + 0.5))) * "
            "((tf * 2.2) / (tf + 1.2 * (0.25 + ((0.75 * dl) / st.avgdl))))) AS BIGINT) AS c "
            "FROM tf JOIN dft USING (term), st), "
            "sc AS (SELECT doc_id, sum(c) AS score_x1e6, count(*) AS n_matched FROM c GROUP BY doc_id) "
            "SELECT doc_id, CAST(row_number() OVER (ORDER BY score_x1e6 DESC, doc_id) AS BIGINT) AS rank, "
            "CAST(score_x1e6 AS BIGINT) AS score_x1e6, CAST(n_matched AS BIGINT) AS n_matched "
            "FROM sc ORDER BY rank LIMIT 10"
        ),
        "text_top_terms": (
            # linear-idf tf-idf: score = floor(tf * N / df), top-5 per
            # doc, ties by tf desc then term asc
            "WITH tok AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array("
            "lower(trim(text)), '\\s+'), x -> len(x) > 0)) AS term FROM documents), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), "
            "dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term), "
            "n AS (SELECT count(*) AS n FROM documents), "
            "s AS (SELECT doc_id, term, tf, df, "
            "CAST(floor(tf * n.n / df) AS BIGINT) AS score, "
            "row_number() OVER (PARTITION BY doc_id ORDER BY floor(tf * n.n / df) DESC, "
            "tf DESC, term ASC) AS rank FROM tf JOIN dft USING (term), n) "
            "SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, "
            "CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score "
            "FROM s WHERE rank <= 5"
        ),
        "text_normalize": (
            "SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(text), "
            "'[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', ' ', 'g'), "
            "'\\s+', ' ', 'g')) AS text FROM documents"
        ),
        "sample_weighted": (
            "SELECT doc_id FROM documents "
            "WHERE ((625341585 * (doc_id % 2147483647) + 461845907) % 2147483647) "
            "/ 2147483647.0 < least(n_chars / 1000.0, 1.0)"
        ),
        "sample_upsampled": (
            "WITH w AS (SELECT doc_id, 1.0 + (doc_id % 3) / 2.0 AS wt FROM documents), "
            "n AS (SELECT doc_id, least(CAST(floor(wt) AS BIGINT) + "
            "CASE WHEN ((625341585 * (doc_id % 2147483647) + 461845907) % 2147483647) "
            "/ 2147483647.0 < wt - floor(wt) THEN 1 ELSE 0 END, 16) AS n FROM w) "
            "SELECT doc_id, unnest(generate_series(0, n - 1)) AS copy_idx "
            "FROM n WHERE n > 0"
        ),
        "split_corpus": (
            # cumulative variate intervals: [0,.9) train, [.9,.95) val,
            # rest test — same affine-hash contract as sample_hash
            "SELECT doc_id, CASE "
            "WHEN ((625341585 * (doc_id % 2147483647) + 461845907) % 2147483647) "
            "/ 2147483647.0 < 0.9 THEN 'train' "
            "WHEN ((625341585 * (doc_id % 2147483647) + 461845907) % 2147483647) "
            "/ 2147483647.0 < 0.9500000000000001 THEN 'val' "
            "ELSE 'test' END AS split FROM documents"
        ),
        "cc_components": (
            # exact CC oracle: recursive reachability over the
            # symmetrized membership graph, component = min reachable id.
            # Quadratic in component size — fine at gate scale (the
            # Spark operator itself is the scale path)
            "WITH RECURSIVE e AS ("
            "SELECT CAST(c_custkey AS BIGINT) AS a, CAST(c_nationkey + 1000000000 AS BIGINT) AS b FROM customer "
            "UNION ALL SELECT CAST(s_suppkey + 2000000000 AS BIGINT), CAST(s_nationkey + 1000000000 AS BIGINT) FROM supplier "
            "UNION ALL SELECT CAST(n_nationkey + 1000000000 AS BIGINT), CAST(n_regionkey + 3000000000 AS BIGINT) FROM nation), "
            "sym AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e), "
            "reach AS (SELECT DISTINCT src AS node, src AS lbl FROM sym "
            "UNION SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.node) "
            "SELECT node AS surface, min(lbl) AS component FROM reach GROUP BY node"
        ),
        "decontaminate": (
            # distinct 3-grams of each training doc (doc_id % 19 != 0)
            # that appear in ANY benchmark doc (doc_id % 19 == 0), plus
            # the distinct benchmark docs hit; zeros for clean docs
            "WITH tk AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ts FROM documents), "
            "p AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 2)) AS i FROM tk WHERE len(ts) >= 3), "
            "g AS (SELECT doc_id, array_to_string(list_slice(ts, i, i + 2), ' ') AS gram FROM p), "
            "cg AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 19 <> 0), "
            "bg AS (SELECT DISTINCT doc_id AS bench_id, gram FROM g WHERE doc_id % 19 = 0), "
            "h AS (SELECT cg.doc_id, count(DISTINCT gram) AS n_hit_ngrams, "
            "count(DISTINCT bench_id) AS n_bench_docs FROM cg JOIN bg USING (gram) GROUP BY cg.doc_id) "
            "SELECT d.doc_id, CAST(coalesce(h.n_hit_ngrams, 0) AS BIGINT) AS n_hit_ngrams, "
            "CAST(coalesce(h.n_bench_docs, 0) AS BIGINT) AS n_bench_docs, "
            "CAST(CASE WHEN coalesce(h.n_hit_ngrams, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated "
            "FROM documents d LEFT JOIN h ON h.doc_id = d.doc_id WHERE d.doc_id % 19 <> 0"
        ),
        "decontaminate_spans": (
            # token positions covered by any benchmark-hit 3-gram are
            # removed; text rebuilt from the survivors in position order
            "WITH tk AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ts FROM documents), "
            "p AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 2)) AS i FROM tk WHERE len(ts) >= 3), "
            "g AS (SELECT doc_id, i AS start, array_to_string(list_slice(ts, i, i + 2), ' ') AS gram FROM p), "
            "bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 19 = 0), "
            "cov0 AS (SELECT doc_id, unnest(generate_series(start, start + 2)) AS pos "
            "FROM g JOIN bg USING (gram) WHERE doc_id % 19 <> 0), "
            "cov AS (SELECT DISTINCT doc_id, pos FROM cov0), "
            "tok AS (SELECT doc_id, unnest(ts) AS tok, unnest(generate_series(1, len(ts))) AS pos "
            "FROM tk WHERE doc_id % 19 <> 0), "
            "kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t LEFT JOIN cov c "
            "ON c.doc_id = t.doc_id AND c.pos = t.pos WHERE c.pos IS NULL), "
            "res AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text, count(*) AS n_kept "
            "FROM kept GROUP BY doc_id), "
            "nt AS (SELECT doc_id, len(ts) AS n_toks FROM tk WHERE doc_id % 19 <> 0) "
            "SELECT nt.doc_id, coalesce(res.text, '') AS text, "
            "CAST(nt.n_toks - coalesce(res.n_kept, 0) AS BIGINT) AS removed_tokens "
            "FROM nt LEFT JOIN res ON res.doc_id = nt.doc_id"
        ),
        "mixture_report": (
            "SELECT source, count(*) AS docs, "
            "CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0 "
            "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS tokens, "
            "CAST(SUM(length(text)) AS BIGINT) AS chars, "
            "SUM(length(text)) / CAST(count(*) AS DOUBLE) AS mean_chars "
            "FROM documents GROUP BY source ORDER BY source"
        ),
        "dedup_span": (
            # duplicated 8-token windows minus each fingerprint's
            # (doc_id, pos)-first occurrence; md5 of the window text is
            # the shared 128-bit fingerprint (pos is 1-based, < 10^9 so
            # the packed first-occurrence key is order-identical to
            # Spark's min(struct(doc_id, pos)))
            "WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ts FROM documents), "
            "p AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS pos FROM tok), "
            "w AS (SELECT doc_id, pos, md5(array_to_string(list_slice(ts, pos, pos + 7), ' ')) AS fp FROM p), "
            "g AS (SELECT fp, count(*) AS occ, min(doc_id * 1000000000 + pos) AS firstk "
            "      FROM w GROUP BY fp HAVING count(*) >= 2) "
            "SELECT w.doc_id AS doc_id, w.pos AS pos, g.occ AS occ "
            "FROM w JOIN g USING (fp) WHERE w.doc_id * 1000000000 + w.pos <> g.firstk"
        ),
        "text_fingerprint": (
            "SELECT doc_id, CAST(CASE WHEN text IS NULL OR length(text) = 0 THEN 0 ELSE "
            "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ''), "
            "x -> CAST(unicode(x) AS BIGINT))), (a, b) -> (a * 31 + b) % 2147483647) END AS BIGINT) AS fingerprint "
            "FROM documents"
        ),
        "ann_knn_graph": (
            # full corpus as queries: quadratic oracle (gate-scale only;
            # the Spark operator's blocked form is the scale path)
            "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), "
            "s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, "
            "  list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cos "
            "  FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id), "
            "r AS (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk FROM s) "
            "SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rank FROM r WHERE rk <= 5"
        ),
        "ann_cosine_topk": (
            "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), "
            "q AS (SELECT * FROM v WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 5)), "
            "s AS (SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id, "
            "  list_dot_product(q.e, v.e) / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(v.e, v.e))) AS cos "
            "  FROM q CROSS JOIN v WHERE q.vec_id <> v.vec_id), "
            "r AS (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk FROM s) "
            "SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rank FROM r WHERE rk <= 5"
        ),
    }
    sql["e4_p_index"] = _with_triples("SELECT DISTINCT p, s FROM t")
    sql["d4_count_pattern"] = _with_triples(
        "SELECT count(*) AS n_results FROM t WHERE s = (SELECT s0 FROM consts)"
    )
    sql["c3_triple_diff"] = _with_triples(
        "SELECT s, p, o FROM t EXCEPT ALL SELECT s, p, o FROM t WHERE s = (SELECT s0 FROM consts)"
    )
    sql["a4_text_roundtrip"] = _TRIPLES_SQL
    sql["f1_member_position"] = _with_triples(
        "SELECT 'min' AS probe, CAST(0 AS BIGINT) AS position "
        "UNION ALL SELECT 'max' AS probe, CAST((SELECT count(*) - 1 FROM t) AS BIGINT) AS position"
    )
    # a7: replay the sorted 20-triple sample + the fixed wildcard cycle
    # (qid%5: 0→SPO member, 1→SP?, 2→S??, 3→?PO, 4→?P? — exactly
    # stamp_wildcards over perms [(spo,0),(spo,1),(spo,2),(pos,1),(pos,2)]).
    sql["a7_querylog_batched"] = (
        f"WITH t AS ({_TRIPLES_SQL}), sample AS ("
        "  SELECT s, p, o, CAST(row_number() OVER (ORDER BY s, p, o) - 1 AS BIGINT) AS qid"
        "  FROM t ORDER BY s, p, o LIMIT 20) "
        "SELECT q.qid, t.s, t.p, t.o FROM sample q JOIN t ON CASE CAST(q.qid % 5 AS INT) "
        "  WHEN 0 THEN t.s = q.s AND t.p = q.p AND t.o = q.o "
        "  WHEN 1 THEN t.s = q.s AND t.p = q.p "
        "  WHEN 2 THEN t.s = q.s "
        "  WHEN 3 THEN t.p = q.p AND t.o = q.o "
        "  ELSE t.p = q.p END"
    )
    sql["e5_rank_remap"] = _with_triples(
        "SELECT p, o, s_rank FROM t JOIN ("
        "SELECT o, s, CAST(row_number() OVER (PARTITION BY o ORDER BY s) - 1 AS BIGINT) AS s_rank "
        "FROM (SELECT DISTINCT o, s FROM t)) r USING (o, s)"
    )
    sql["e5_rank_decode"] = _with_triples("SELECT s, p, o FROM t")
    sql["dedup_embedding_cosine"] = (
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) "
        "SELECT a.vec_id AS a, b.vec_id AS b FROM v a JOIN v b ON a.vec_id < b.vec_id "
        "WHERE list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.35"
    )
    for name, mask in [
        ("f1_member", (True, True, True)),
        ("f2_pattern_sp", (True, True, False)),
        ("f3_pattern_s", (True, False, False)),
        ("f4_pattern_po", (False, True, True)),
        ("f5_pattern_p", (False, True, False)),
        ("f6_pattern_o", (False, False, True)),
        ("f7_pattern_so", (True, False, True)),
        ("f8_scan_all", (False, False, False)),
    ]:
        sql[name] = _pattern_sql(mask)
    # dedup_minhash_lsh / dedup_simhash / ann_lsh_topk / kg_* /
    # multimodal_features / b3_hash_ids / d2_space_stats: deliberately no
    # SQL oracle (hash-family, filesystem and pipeline ops aren't portably
    # SQL-expressible) → rows-only check; exact oracles live in tests/
    # (pandas/numpy golden comparisons).
    # composed Gopher filter: reuses the quality + repetition twins
    # verbatim, so the rule thresholds are the ONLY new logic under test
    sql["gopher_filter"] = (
        f"WITH q AS ({_quality_sql()}), r AS ({sql['text_repetition']}) "
        "SELECT doc_id, length(reasons) = 0 AS keep, reasons FROM ("
        "SELECT q.doc_id AS doc_id, concat_ws(',', "
        "CASE WHEN q.n_tokens < 30 THEN 'too_short' END, "
        "CASE WHEN q.n_tokens > 100000 THEN 'too_long' END, "
        "CASE WHEN q.mean_token_len_x100 < 300 OR q.mean_token_len_x100 > 1000 THEN 'token_len' END, "
        "CASE WHEN q.stop_ratio_x1000 < 10 THEN 'low_stopwords' END, "
        "CASE WHEN r.top_token_ratio_x1000 > 150 THEN 'top_token' END, "
        "CASE WHEN r.dup_bigram_ratio_x1000 > 150 THEN 'dup_bigrams' END"
        ") AS reasons FROM q JOIN r USING (doc_id)) s"
    )
    # C4 cleaning: the line lambda is the SAME predicate in both engines
    # (regex terminal punct, \s+ word count, javascript substring)
    sql["c4_filter"] = (
        "WITH d AS (SELECT doc_id, replace(replace(replace(text, "
        "' table ', ' table.' || chr(10)), "
        "' window ', ' javascript window '), "
        "' hash ', ' { hash ') AS text FROM documents), "
        "L AS (SELECT doc_id, text, "
        "list_filter(string_split(text, chr(10)), l -> "
        "regexp_matches(trim(l), '[.!?\"]$') "
        "AND len(regexp_split_to_array(trim(l), '\\s+')) >= 3 "
        "AND NOT contains(lower(trim(l)), 'javascript')) AS kept "
        "FROM d) "
        "SELECT doc_id, "
        "(len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum') "
        "AND NOT contains(text, '{')) AS keep, "
        "CAST(len(kept) AS BIGINT) AS n_kept_lines, "
        "COALESCE(array_to_string(kept, chr(10)), '') AS clean_text FROM L"
    )
    # winnow candidates: composes the fingerprint twin verbatim — only
    # the bucket cap + shared-gram pair count is new logic under test
    sql["dedup_winnow_pairs"] = (
        f"WITH fp AS ({sql['winnow_fingerprints']}), "
        "sz AS (SELECT gram_hash, count(*) AS c FROM fp GROUP BY gram_hash), "
        "ok AS (SELECT fp.doc_id, fp.gram_hash FROM fp JOIN sz USING (gram_hash) WHERE c <= 200) "
        "SELECT l.doc_id AS a, r.doc_id AS b, "
        "CAST(count(DISTINCT l.gram_hash) AS BIGINT) AS shared "
        "FROM ok l JOIN ok r USING (gram_hash) WHERE l.doc_id < r.doc_id "
        "GROUP BY l.doc_id, r.doc_id HAVING count(DISTINCT l.gram_hash) >= 1"
    )
    # column profile: one UNION branch per profiled column mirrors the
    # melted single-aggregate row
    _prof = (
        "SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, "
        "CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct, "
        "CAST(min({c}) AS VARCHAR) AS min_value, CAST(max({c}) AS VARCHAR) AS max_value "
        "FROM orders"
    )
    sql["profile_columns_orders"] = " UNION ALL ".join(
        _prof.format(c=c)
        for c in ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    )
    # cohort retention: exact integer week arithmetic (datediff // 7 on
    # Monday-truncated dates — both engines truncate weeks to Monday)
    sql["retention_cohorts_events"] = (
        "WITH f AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort "
        "FROM events GROUP BY user_id), "
        "a AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS period FROM events), "
        "j AS (SELECT DISTINCT f.cohort, "
        "CAST(datediff('day', f.cohort, a.period) // 7 AS INT) AS period_offset, a.user_id "
        "FROM a JOIN f USING (user_id)) "
        "SELECT CAST(cohort AS VARCHAR) AS cohort, period_offset, "
        "CAST(count(*) AS BIGINT) AS n_active FROM j GROUP BY 1, 2"
    )
    # funnel: chained earliest-valid-step CTEs replay the join+min rounds
    sql["funnel_events"] = (
        "WITH s0 AS (SELECT user_id, min(ts) AS t, min(ts) AS t0 FROM events "
        "WHERE event_type = 'view' GROUP BY user_id), "
        "s1 AS (SELECT e.user_id, min(e.ts) AS t, min(c.t0) AS t0 FROM events e "
        "JOIN s0 c USING (user_id) WHERE e.event_type = 'click' AND e.ts > c.t "
        "AND e.ts <= c.t0 + INTERVAL 86400 SECOND GROUP BY e.user_id), "
        "s2 AS (SELECT e.user_id, min(e.ts) AS t, min(c.t0) AS t0 FROM events e "
        "JOIN s1 c USING (user_id) WHERE e.event_type = 'purchase' AND e.ts > c.t "
        "AND e.ts <= c.t0 + INTERVAL 86400 SECOND GROUP BY e.user_id) "
        "SELECT CAST(0 AS INT) AS step_idx, 'view' AS step, CAST(count(*) AS BIGINT) AS n_keys FROM s0 "
        "UNION ALL SELECT CAST(1 AS INT), 'click', CAST(count(*) AS BIGINT) FROM s1 "
        "UNION ALL SELECT CAST(2 AS INT), 'purchase', CAST(count(*) AS BIGINT) FROM s2"
    )
    # embedding norms: per-component quantization (floor(x*1000)) makes the
    # squared norm an exact integer — order-free, engine-identical
    sql["embedding_norm_stats"] = (
        "WITH q AS (SELECT label AS grp, CAST(list_sum(list_transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) * "
        "CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS n2 FROM embeddings) "
        "SELECT grp, CAST(count(*) AS BIGINT) AS n_vecs, min(n2) AS min_norm2_q, "
        "max(n2) AS max_norm2_q, CAST(sum(n2) AS BIGINT) AS sum_norm2_q, "
        "CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero "
        "FROM q GROUP BY grp"
    )
    # hybrid RRF: the BM25 twin re-derived at k=50 + the cosine-rank twin
    # for query vector 0, fused with integer division — engine-exact
    sql["hybrid_search_rrf"] = (
        "WITH base AS (SELECT doc_id, list_filter(regexp_split_to_array("
        "lower(trim(text)), '\\s+'), x -> len(x) > 0) AS ts FROM documents), "
        "d AS (SELECT doc_id, len(ts) AS dl, ts FROM base), "
        "st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM d), "
        "pairs AS (SELECT doc_id, dl, unnest(ts) AS term FROM d), "
        "tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM pairs "
        "WHERE term IN ('scan', 'join', 'merge') GROUP BY 1, 2, 3), "
        "dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term), "
        "c AS (SELECT doc_id, CAST(floor((1000000.0 * "
        "(((CAST(st.n AS DOUBLE) - df) + 0.5) / (df + 0.5))) * "
        "((tf * 2.2) / (tf + 1.2 * (0.25 + ((0.75 * dl) / st.avgdl))))) AS BIGINT) AS c "
        "FROM tf JOIN dft USING (term), st), "
        "sc AS (SELECT doc_id, sum(c) AS score FROM c GROUP BY doc_id), "
        "bm AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank "
        "FROM sc ORDER BY rank LIMIT 50), "
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), "
        "qv AS (SELECT * FROM v WHERE vec_id = 0), "
        "s AS (SELECT v.vec_id AS doc_id, list_dot_product(qv.e, v.e) / "
        "(sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(v.e, v.e))) AS cos "
        "FROM qv CROSS JOIN v WHERE v.vec_id <> qv.vec_id), "
        "vr AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rank "
        "FROM s ORDER BY rank LIMIT 50), "
        "contrib AS (SELECT doc_id, 1000000000 // (60 + rank) AS c FROM bm "
        "UNION ALL SELECT doc_id, 1000000000 // (60 + rank) FROM vr), "
        "fused AS (SELECT doc_id, sum(c) AS score_x1e9, count(*) AS n_lists FROM contrib GROUP BY doc_id) "
        "SELECT doc_id, CAST(score_x1e9 AS BIGINT) AS score_x1e9, "
        "CAST(n_lists AS BIGINT) AS n_lists, "
        "CAST(row_number() OVER (ORDER BY score_x1e9 DESC, doc_id) AS BIGINT) AS rank "
        "FROM fused ORDER BY score_x1e9 DESC, doc_id LIMIT 10"
    )
    return sql
