"""Document deduplication operators for large-scale training-data pipelines.

Beyond the reference's triple dedup (`sort -u`,
/root/reference/scripts/sort.py:6-10), these are the document-level
dedup family a 100 TB corpus pipeline needs. All hash arithmetic is
plain-integer and JVM-side (xxhash64 / crc32 / bit ops) so plans stay in
whole-stage codegen; the only pandas UDF is the SimHash packer (bit
fiddling over token hash arrays, Arrow-batched).

Scale notes:
- exact dedup: one shuffle on the content hash; representative = min id
  (deterministic).
- MinHash+LSH: per-doc signature is a map-side array fold (no shuffle);
  banding explodes to (band_id, band_hash) keys — the ONLY shuffle — and
  candidate pairs come from within-bucket joins. Bucket skew (boilerplate
  docs) is capped with a per-bucket size limit.
- n-gram Jaccard: exact verify step on candidate pairs only (never the
  full cross product at scale; the test-scale API also offers all-pairs
  for oracle comparison).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Deterministic affine hash family over the 31-bit Mersenne prime.
# Ranges are chosen so every intermediate fits in a signed 64-bit long
# WITHOUT overflow: (2^32-1)·(2^30) + 2^31 < 2^63 — required because
# Spark 4 runs ANSI mode (overflow would raise, and wrap-around would be
# engine-specific anyway).
_P = (1 << 31) - 1
_MASK32 = (1 << 32) - 1


def _hash_params(n: int, seed: int = 7) -> list[tuple[int, int]]:
    rng = np.random.default_rng(seed)
    return [(int(rng.integers(1, 1 << 30)), int(rng.integers(0, _P))) for _ in range(n)]


def tokens_col(text_col: str = "text"):
    """Whitespace tokenization, lowercased, distinct — shared by dedup ops."""
    return F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by full-text equality: (doc_id, keep_id).

    keep_id = min doc_id of the group; a doc is a duplicate iff
    doc_id != keep_id. The group key is a 128-bit content fingerprint
    (two independent xxhash64 seeds + the byte length), NOT the raw text:
    the full document bytes would otherwise ride BOTH the groupBy exchange
    and the join-back exchange — at 100 TB that is the whole corpus on the
    wire twice. With the fingerprint, only (id, 2 longs, 1 int) rows
    shuffle; collision probability over the 129-bit key is ~n²·2⁻¹³⁰
    (zero at any feasible corpus size). Both sides derive the fingerprint
    map-side from the same scan."""
    key = [
        F.xxhash64(F.lit(0), F.col(text_col)).alias("_h0"),
        F.xxhash64(F.lit(1), F.col(text_col)).alias("_h1"),
        F.length(text_col).alias("_len"),
    ]
    fp = docs.select(F.col(id_col), *key)
    groups = fp.groupBy("_h0", "_h1", "_len").agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("group_size")
    )
    return fp.join(groups, ["_h0", "_h1", "_len"]).select(id_col, "keep_id", "group_size")


def minhash_signatures_from_ids(
    toks: DataFrame, num_hashes: int = 64, id_col: str = "doc_id", ids_col: str = "th"
) -> DataFrame:
    """(doc_id, sig: array<long>) MinHash over precomputed token ids.

    ``toks`` carries (id_col, ids_col: array<long>) with every id in
    [0, 2^32): the num_hashes affine permutations + min run as ONE numpy
    broadcast per Arrow batch — pyspark's higher-order-fn folds are
    interpreted, so h hashes × t tokens of F.transform cost ~30x more
    than the (t, h) matmul-shaped numpy min here. The affine family mod
    the Mersenne prime is plain integer arithmetic, so any engine that
    agrees on the token ids replays the signatures exactly (the driver's
    DuckDB oracle does, via dense-ranked vocab ids).
    """
    params = _hash_params(num_hashes)
    A = np.array([a for a, _ in params], dtype=np.int64)
    B = np.array([b for _, b in params], dtype=np.int64)

    def sig_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for th in pdf[ids_col]:
                h = np.asarray(th, dtype=np.int64)
                if h.size == 0:
                    out.append((np.zeros(len(A), dtype=np.int64) + _P - 1).tolist())
                    continue
                # (t, 1)*(h,) + (h,) stays < 2^63 by _hash_params ranges
                vals = (h[:, None] * A[None, :] + B[None, :]) % _P
                out.append(vals.min(axis=0).tolist())
            yield pd.DataFrame({id_col: pdf[id_col], "sig": out})

    return toks.mapInPandas(sig_batches, schema=f"{id_col} long, sig array<long>")


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 64, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, sig: array<long>) MinHash over distinct word tokens.

    Map-side only: token hash = xxhash64 (JVM, masked to 32 bits so the
    affine fold stays overflow-free), then the signature fold of
    minhash_signatures_from_ids. No shuffle anywhere."""
    toks = docs.select(
        id_col,
        F.transform(
            tokens_col(text_col), lambda t: F.xxhash64(t).bitwiseAND(F.lit(_MASK32))
        ).alias("th"),
    )
    return minhash_signatures_from_ids(toks, num_hashes, id_col, "th")


def minhash_lsh_pairs(
    docs: DataFrame | None = None,
    num_hashes: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = 1000,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs (a, b), a < b, via banded LSH.

    shingle→minhash→band→bucket-join. Buckets larger than ``max_bucket``
    are dropped with a log-visible marker (boilerplate black holes —
    quadratic pair blowup at scale); exact-verify downstream. Pass
    ``sigs`` (doc_id, sig array<long>) to band precomputed signatures
    (e.g. from minhash_signatures_from_ids); num_hashes must match.
    """
    rows_per_band = num_hashes // bands
    if sigs is None:
        sigs = minhash_signatures(docs, num_hashes, id_col, text_col)
    banded = sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(F.slice("sig", i * rows_per_band + 1, rows_per_band)).alias("bh"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.bh")
    sizes = banded.groupBy("band", "bh").agg(F.count("*").alias("n"))
    ok = sizes.filter((F.col("n") >= 2) & (F.col("n") <= max_bucket)).select("band", "bh")
    keep = banded.join(ok, ["band", "bh"])
    left = keep.select("band", "bh", F.col(id_col).alias("a"))
    right = keep.select("band", "bh", F.col(id_col).alias("b"))
    # within-bucket self-join: shuffle keys are (band, bucket-hash); the
    # max_bucket cap bounds the per-key quadratic blowup
    return (
        left.join(right, ["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact word-token Jaccard over pairs: (a, b, jaccard), a < b, >= threshold.

    With ``candidates`` (from LSH) the join is pair-pruned — the scale
    path. Without, an all-pairs self-join (test scale / oracle parity
    only; the driver's DuckDB oracle mirrors it with list_intersect).
    """
    t = docs.select(F.col(id_col).alias("_id"), tokens_col(text_col).alias("toks"))
    a = t.select(F.col("_id").alias("a"), F.col("toks").alias("ta"))
    b = t.select(F.col("_id").alias("b"), F.col("toks").alias("tb"))
    if candidates is not None:
        pairs = candidates.join(a, "a").join(b, "b")
    else:
        pairs = a.crossJoin(b).filter(F.col("a") < F.col("b"))
    inter = F.size(F.array_intersect("ta", "tb")).cast("long")
    union = F.size(F.array_union("ta", "tb")).cast("long")
    # keep the integer sizes alongside the ratio: engine-portable integer
    # derivations (e.g. ppm) must be computed from these with ONE agreed
    # expression, not from the already-divided double.
    return (
        pairs.select(
            "a",
            "b",
            inter.alias("inter"),
            union.alias("union_size"),
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


_SIMHASH_BITS = 64


def _simhash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    shifts = np.arange(_SIMHASH_BITS, dtype=np.uint64)
    for pdf in batches:
        out_ids, out_sh = [], []
        for did, toks in zip(pdf["doc_id"], pdf["th"]):
            arr = np.asarray(toks, dtype=np.int64).astype(np.uint64)
            if arr.size == 0:
                out_ids.append(did)
                out_sh.append(0)
                continue
            # vote matrix: (n_tokens, 64) of {0,1} → column sums
            bits = (arr[:, None] >> shifts[None, :]) & np.uint64(1)
            votes = 2 * bits.sum(axis=0).astype(np.int64) - arr.size
            packed = int(((votes >= 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
            if packed >= 1 << 63:  # two's-complement into signed long
                packed -= 1 << 64
            out_ids.append(did)
            out_sh.append(packed)
        yield pd.DataFrame({"doc_id": out_ids, "simhash": pd.array(out_sh, dtype="int64")})


def simhash_from_ids(toks: DataFrame) -> DataFrame:
    """(doc_id, simhash long) from precomputed token hashes.

    ``toks`` carries (doc_id, th: array<long>); the bit-vote fold +
    two's-complement pack run as one Arrow batch. With engine-portable
    token hashes (e.g. affine-scrambled vocab ranks) the packed values
    are exactly replayable by a SQL twin — the driver's DuckDB oracle
    does this with a per-bit vote aggregation."""
    return toks.mapInPandas(_simhash_batches, schema="doc_id long, simhash long")


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, simhash long): 64-bit SimHash of the token set.

    Token hashing stays JVM-side (xxhash64); only the bit-vote fold is a
    pandas batch (Arrow). Near-dups = pairs within small Hamming distance,
    found by banding the 64 bits into 4×16-bit keys (pigeonhole: distance
    ≤3 ⇒ at least one identical band).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.transform(tokens_col(text_col), lambda t: F.xxhash64(t)).alias("th"),
    )
    return simhash_from_ids(toks)


def simhash_near_pairs(sims: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs by 16-bit band collision, verified by exact popcount."""
    bands = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    l = bands.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"), "band", "key")
    r = bands.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"), "band", "key")
    cand = l.join(r, ["band", "key"]).filter(F.col("a") < F.col("b")).select("a", "b", "ha", "hb").distinct()
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming")
    return cand.select("a", "b", ham).filter(F.col("hamming") <= max_hamming)


def near_dup_keep(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weight_col: str | None = None,
) -> DataFrame:
    """Survivor selection — the final step of a near-dedup pipeline:
    cluster the near-duplicate PAIR graph with connected components and
    keep exactly one document per cluster, plus every document that
    appears in no pair. Returns the kept ids, one column ``id_col``.

    Survivor policy: minimum id by default; with ``weight_col`` (a
    column of ``docs``, e.g. a token count) the MAXIMUM-weight member
    survives, ties broken by minimum id — the keep-the-longest rule
    production dedup pipelines use. The weighted pick is one per-
    component max(struct(weight, -id)) aggregate over the PAIRED docs
    only — component-keyed, no window, no skewed reducer.

    Reuses the KG engine's distributed CC operator (min-label
    propagation, operators/canonicalize.py) over the similarity graph —
    the same scale shape as entity canonicalization: iterated state is
    the PAIRED documents only, everything unpaired passes through via the
    left anti-semantics below. ``pairs`` comes from any of the candidate
    generators (minhash_lsh_pairs -> ngram_jaccard_pairs verify at
    scale; all-pairs ngram for oracle parity)."""
    from .canonicalize import connected_components

    # eager cut: the pair graph (often an expensive LSH/verify chain) is
    # read by CC's edge count, endpoints and symmetrization
    comps = connected_components(pairs.select("a", "b").localCheckpoint())
    if weight_col is None:
        return (
            docs.select(F.col(id_col))
            .join(comps, docs[id_col] == comps.surface, "left")
            .filter(F.col("component").isNull() | (F.col("component") == F.col(id_col)))
            .select(id_col)
        )
    labeled = docs.select(F.col(id_col), F.col(weight_col).alias("_w")).join(
        comps, docs[id_col] == comps.surface, "left"
    )
    # max weight, then min id: max(struct(w, -id)) is one agg per component
    winners = (
        labeled.filter(F.col("component").isNotNull())
        .groupBy("component")
        .agg(F.max(F.struct(F.col("_w"), (-F.col(id_col)).alias("_nid"))).alias("_top"))
        .select((-F.col("_top._nid")).alias("_keep"))
    )
    kept_paired = labeled.filter(F.col("component").isNotNull()).join(
        winners, labeled[id_col] == winners["_keep"], "left_semi"
    )
    return labeled.filter(F.col("component").isNull()).select(id_col).unionByName(
        kept_paired.select(id_col)
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_repeat: int = 2,
) -> DataFrame:
    """Corpus-wide exact SEGMENT dedup (the C4 / RefinedWeb "remove
    repeated lines across documents" step): split every document on
    ``sep``, and for each segment occurring >= ``min_repeat`` times in
    the whole corpus keep ONLY its first occurrence (ordered by doc_id,
    then position within the document) — all later occurrences are cut.
    Unique segments always survive. Returns (doc_id, text) with the kept
    segments rejoined by ``sep`` in original order; a document whose
    every segment is cut comes back as ''.

    Scale shape: the wide exchanges key on a segment FINGERPRINT
    (xxhash64 + length), never the segment bytes — segment text rides
    exactly one shuffle (the doc-keyed reassembly it would ride anyway).
    first-occurrence selection is a min(struct) aggregate, not a window
    (no skewed single-reducer for a hot segment), and the reassembly is
    a doc-keyed hash aggregate over sorted (pos, line) structs."""
    segs = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), F.lit(sep), -1)).alias("pos", "line"),
    )
    key = [  # 129-bit fingerprint, same collision math as exact_dedup
        F.xxhash64(F.lit(0), F.col("line")).alias("_h0"),
        F.xxhash64(F.lit(1), F.col("line")).alias("_h1"),
        F.length("line").alias("_len"),
    ]
    keyed = segs.select("doc_id", "pos", "line", *key)
    groups = keyed.groupBy("_h0", "_h1", "_len").agg(
        F.count("*").alias("occ"),
        F.min(F.struct("doc_id", "pos")).alias("first"),
    )
    kept = (
        keyed.join(groups, ["_h0", "_h1", "_len"])
        .filter(
            (F.col("occ") < min_repeat)
            | ((F.col("first.doc_id") == F.col("doc_id")) & (F.col("first.pos") == F.col("pos")))
        )
        .select("doc_id", "pos", "line")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("text")
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(rebuilt, "doc_id", "left")
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    )


def duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_repeat: int = 2,
    fingerprint: str = "xxhash64",
) -> DataFrame:
    """Substring-level duplicate detection (the "dedup training data at
    the span level" step of Lee et al. 2022, which the suffix-array tools
    do offline): every k-token window is fingerprinted, and windows whose
    fingerprint occurs >= ``min_repeat`` times corpus-wide are reported —
    EXCLUDING each fingerprint's first occurrence in (doc_id, pos) order,
    so the survivors of a cut are well-defined. Returns (doc_id, pos,
    occ): 1-based token position of each duplicated window and its
    corpus-wide occurrence count.

    Scale shape: window fingerprints are computed MAP-SIDE inside one
    higher-order transform over the token array — the window strings are
    transient expression values; neither they nor the token arrays ever
    enter a shuffle (the posexplode generator consumes the fingerprint
    array, so generated rows carry only ids + hashes). The single wide
    exchange keys on the fingerprint (two xxhash64 longs — 128-bit, same
    collision math as exact_dedup), the first-occurrence pick is a
    min(struct) aggregate (no per-fingerprint window/single reducer),
    and the join back to occurrences is on the same hash key. Work is
    O(tokens · k) hashing, the unavoidable lower bound for overlapping
    windows without a distributed suffix array.

    ``fingerprint="md5"`` swaps the key for the portable 128-bit md5 hex
    of the window text (string key — heavier on the wire; used by the
    engine-portable oracle twin, same first/occ semantics).
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("_ts")).withColumn(
        # whitespace-only text splits to [""] — treat as zero tokens
        "_n",
        F.when(F.length(F.col("_ts").getItem(0)) == 0, F.lit(0)).otherwise(
            F.size("_ts")
        )
        - F.lit(k - 1),
    )
    base = base.filter(F.col("_n") >= 1)

    def _window(p):
        return F.array_join(F.slice(F.col("_ts"), p, k), " ")

    if fingerprint == "md5":
        fps = F.transform(
            F.sequence(F.lit(1), F.greatest(F.col("_n"), F.lit(1))), lambda p: F.md5(_window(p))
        )
        keyed = base.select("doc_id", F.posexplode(fps).alias("_p0", "_fp"))
        key_cols = ["_fp"]
    elif fingerprint == "xxhash64":
        fps = F.transform(
            F.sequence(F.lit(1), F.greatest(F.col("_n"), F.lit(1))),
            lambda p: F.struct(
                F.xxhash64(F.lit(0), _window(p)).alias("h0"),
                F.xxhash64(F.lit(1), _window(p)).alias("h1"),
            ),
        )
        keyed = base.select(
            "doc_id", F.posexplode(fps).alias("_p0", "_s")
        ).select("doc_id", "_p0", F.col("_s.h0").alias("_h0"), F.col("_s.h1").alias("_h1"))
        key_cols = ["_h0", "_h1"]
    else:
        raise ValueError(f"fingerprint must be 'xxhash64' or 'md5', got {fingerprint!r}")

    keyed = keyed.withColumn("pos", F.col("_p0") + 1).drop("_p0")
    groups = (
        keyed.groupBy(*key_cols)
        .agg(F.count("*").alias("occ"), F.min(F.struct("doc_id", "pos")).alias("_first"))
        .filter(F.col("occ") >= min_repeat)
    )
    return (
        keyed.join(groups, key_cols)
        .filter(
            (F.col("_first.doc_id") != F.col("doc_id"))
            | (F.col("_first.pos") != F.col("pos"))
        )
        .select("doc_id", "pos", "occ")
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint: str = "xxhash64",
    method: str | None = None,
) -> DataFrame:
    """Winnowing document sketches (Schleimer, Wilkerson & Aiken 2003 —
    the MOSS algorithm): hash every k-token gram, slide a w-hash window,
    and select each window's MINIMUM hash (leftmost on ties); the
    distinct selections are the document's fingerprint set. Guarantee:
    any two documents sharing a token run of length >= w + k - 1 share
    at least one fingerprint — a local, size-bounded sketch (expected
    ~2/(w+1) density) that dedup/attribution joins consume instead of
    the full k-gram set. Returns (doc_id, pos, gram_hash), pos = the
    1-based token position of the selected gram.

    Two selection machineries with IDENTICAL semantics (pinned equal by
    pytest under the same hash):

    - ``method="array"`` (default for xxhash64): gram hashes and the
      per-window argmin are computed inside per-row higher-order
      transforms — the operator runs with ZERO shuffle; only the
      selected (doc_id, pos, hash) rows leave the generator.
    - ``method="window"`` (default for "portable"): one (doc, pos, hash)
      row per gram, selection = min(struct(hash, pos)) over a
      rowsBetween(0, w-1) frame — min hash then leftmost position, the
      same tie rule. Costs a doc-keyed shuffle; it exists because the
      portable codepoint-polynomial hash ((acc*31 + cp) mod 2^31-1,
      doc_fingerprint's form — what the DuckDB oracle replays) needs an
      F.aggregate fold, and Spark 4 rejects nested higher-order lambdas,
      so it cannot run inside the array path's transform.
    """
    if method is None:
        method = "array" if fingerprint == "xxhash64" else "window"
    if fingerprint not in ("xxhash64", "portable"):
        raise ValueError(f"fingerprint must be 'xxhash64' or 'portable', got {fingerprint!r}")
    if fingerprint == "portable" and method == "array":
        raise ValueError("the portable hash needs method='window' (nested-lambda limit)")

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("_ts")).withColumn(
        # whitespace-only text splits to [""] — treat as zero tokens
        "_n",
        F.when(F.length(F.col("_ts").getItem(0)) == 0, F.lit(0)).otherwise(
            F.size("_ts")
        )
        - F.lit(k - 1),
    )
    # m = number of window starts; docs with < w grams emit nothing
    base = base.filter(F.col("_n") >= w).withColumn("_m", F.col("_n") - F.lit(w - 1))

    def _gram(p):
        return F.array_join(F.slice(F.col("_ts"), p, k), " ")

    if method == "array":
        hashed = base.withColumn(
            "_hs",
            F.transform(F.sequence(F.lit(1), F.greatest(F.col("_n"), F.lit(1))), lambda p: F.xxhash64(_gram(p))),
        )

        def _select(j):
            win = F.slice(F.col("_hs"), j, w)
            mn = F.array_min(win)
            return F.struct(
                (j + F.array_position(win, mn) - 1).cast("long").alias("pos"),
                mn.alias("gram_hash"),
            )

        picks = F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.greatest(F.col("_m"), F.lit(1))), _select)
        )
        return hashed.select("doc_id", F.explode(picks).alias("_p")).select(
            "doc_id", F.col("_p.pos").alias("pos"), F.col("_p.gram_hash").alias("gram_hash")
        )

    # window machinery: explode the gram array (the generator consumes
    # it — token arrays are not carried), hash per row, frame-min select
    from pyspark.sql import Window

    grams = base.withColumn(
        "_gs", F.transform(F.sequence(F.lit(1), F.greatest(F.col("_n"), F.lit(1))), _gram)
    ).select("doc_id", "_m", F.posexplode("_gs").alias("_p0", "_g"))
    if fingerprint == "portable":
        h = F.aggregate(
            F.split(F.col("_g"), ""),
            F.lit(0).cast("long"),
            lambda acc, ch: F.pmod(acc * 31 + F.ascii(ch), F.lit((1 << 31) - 1)),
        )
    else:
        h = F.xxhash64(F.col("_g"))
    rows = grams.select(
        "doc_id", "_m", (F.col("_p0") + 1).alias("pos"), h.alias("_h")
    )
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    sel = rows.withColumn(
        "_sel", F.min(F.struct(F.col("_h"), F.col("pos"))).over(frame)
    ).filter(F.col("pos") <= F.col("_m"))
    return sel.select(
        "doc_id",
        F.col("_sel.pos").cast("long").alias("pos"),
        F.col("_sel._h").alias("gram_hash"),
    ).dropDuplicates(["doc_id", "pos", "gram_hash"])


def winnow_candidates(
    fingerprints: DataFrame,
    min_shared: int = 2,
    max_bucket: int = 200,
) -> DataFrame:
    """Candidate near-duplicate pairs from winnowing sketches: join
    documents on shared gram_hash, count distinct shared fingerprints
    per pair. One shuffle on the hash; hot fingerprints (boilerplate
    grams) are capped at ``max_bucket`` docs like the LSH bucket cap —
    dropped buckets trade recall for the quadratic blowup bound, the
    standard winnowing-at-scale compromise. Returns (a, b, shared),
    a < b."""
    sized = fingerprints.groupBy("gram_hash").agg(
        F.count("*").alias("_sz")
    )
    ok = fingerprints.join(
        sized.filter(F.col("_sz") <= max_bucket).select("gram_hash"), "gram_hash"
    )
    l = ok.select(F.col("gram_hash"), F.col("doc_id").alias("a"))
    r = ok.select(F.col("gram_hash"), F.col("doc_id").alias("b"))
    return (
        l.join(r, "gram_hash")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.countDistinct("gram_hash").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def keep_best(
    df: DataFrame,
    key_cols: list[str],
    score_col: str,
    tiebreak_col: str = "doc_id",
) -> DataFrame:
    """Survivor-policy dedup: ONE row per key — the highest ``score_col``,
    ties to the smallest ``tiebreak_col`` (fully deterministic; the
    quality-keeping sibling of ``exact_dedup``'s smallest-id rule, for
    URL/title dedup where the best-scoring copy should win).

    Plan: max_by over a packed (score, -tiebreak) struct — a single
    partial+final hash-aggregate pair; no window, no sort, and the
    payload crosses the wire once inside the aggregation buffer.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    others = [c for c in df.columns if c not in key_cols]
    if score_col not in others or tiebreak_col not in others:
        raise ValueError("score_col and tiebreak_col must be non-key columns")
    best = F.max(
        F.struct(
            F.col(score_col).alias("_s"),
            (-F.col(tiebreak_col)).alias("_nt"),
            *[F.col(c).alias(c) for c in others],
        )
    ).alias("_b")
    out = df.groupBy(*key_cols).agg(best)
    return out.select(*key_cols, *[F.col(f"_b.{c}").alias(c) for c in others])
