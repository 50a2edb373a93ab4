"""Dictionary encoding: vocab build + broadcast encode (SURVEY.md B1-B4/E1).

Reference semantics reproduced exactly:
- three INDEPENDENT id spaces for subjects / predicates / objects
  (/root/reference/scripts/extract_vocabs.py:29-31);
- ids dense 0..n-1 in DESCENDING frequency order, ties broken by first
  occurrence in corpus scan order (stable sort + insertion-order dicts,
  /root/reference/scripts/extract_vocabs.py:64-67,
  /root/reference/scripts/map_dataset.py:16-26);
  the rule is written once, in ``_id_order``, which the base build,
  ``build_vocab`` and delta ingest (via ``rank_roles``) all rank by;
- frequency counted over the raw (duplicate-retaining) stream;
- encode = dict probe per component ≙ three broadcast hash joins; terms
  missing from a vocab are dropped-with-log (quarantine DataFrame), the
  reference prints & skips (/root/reference/scripts/map_dataset.py:61-83).

Corpus scan order for us is the stable (conv_id, turn_idx, mention_idx)
tuple — the input-ordering invariant makes it reproducible, unlike
monotonically_increasing_id.

First-occurrence is aggregated as ``min(struct(conv_id, turn_idx,
mention_idx))`` — struct ordering is field-wise lexicographic, exactly
the corpus scan order, for ANY conv_id string shape (UTF-8 binary order
== codepoint order). A struct aggregation buffer means SortAggregate,
which here is the CHEAP plan: the partial phase is a per-partition sort
with NO shuffle of the raw stream, and its output is bounded by
|vocab| x #partitions — so the exchange ships vocab-scale rows, not
corpus-scale. (The previous design globally dense-ranked the distinct
conv_ids and shuffle-hash-joined the rank back onto the corpus to keep
the agg in HashAggregate; that cost a conversation-count rank job chain
plus a full-corpus shuffle — profiled at ~2s + ~1 GB of wire per build
against the sort's per-partition pass, and it was the pipeline's
largest NON-scaling block.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.ranking import dense_ids

_POS = ["conv_id", "turn_idx", "mention_idx"]
ROLES = [("s", "cs"), ("p", "pred"), ("o", "co")]


def _pos_struct() -> Column:
    """Corpus-scan-order key: orderable struct, min() == first occurrence."""
    return F.struct("conv_id", "turn_idx", "mention_idx")


def _id_order() -> list[Column]:
    """THE vocab id rule: descending frequency, ties by first occurrence
    (the reference's extract_vocabs.py, see the module docstring). A
    function, not a constant: building a Column needs a live session."""
    return [F.desc("cnt"), F.asc("first_pos")]


def _vocab_freq(canonical_mentions: DataFrame, role_col: str) -> DataFrame:
    """(term, cnt, first_pos) for one role: single two-phase aggregation
    over the mention stream — partial SortAggregate per input partition
    (no shuffle of raw mentions; partial output <= |vocab| x #partitions),
    one vocab-scale exchange, final aggregate. No join touches the corpus
    (see the module docstring for why this beats the conv-rank design)."""
    return (
        canonical_mentions.select(
            F.col(role_col).alias("term"), _pos_struct().alias("_pos")
        )
        .groupBy("term")
        .agg(F.count("*").alias("cnt"), F.min("_pos").alias("first_pos"))
    )


def role_freq(canonical_mentions: DataFrame) -> DataFrame:
    """(role, term, cnt, first_pos) for all three roles at once: melt
    (role, term, pos) via an exploded struct array (map-side), then ONE
    groupBy shuffle for the three frequency tables together."""
    melted = canonical_mentions.select(
        F.explode(
            F.array(
                *[F.struct(F.lit(role).alias("role"), F.col(c).alias("term")) for role, c in ROLES]
            )
        ).alias("rt"),
        _pos_struct().alias("_pos"),
    ).select("rt.role", "rt.term", "_pos")
    return melted.groupBy("role", "term").agg(
        F.count("*").alias("cnt"), F.min("_pos").alias("first_pos")
    )


def rank_roles(freq: DataFrame) -> DataFrame:
    """A ``role_freq``-shaped frame plus ``id``: dense ids per role in
    ``_id_order``, all three roles in one grouped two-phase rank. The id
    spaces stay fully independent, as in the reference's three vocab
    files. The result is materialized: the role views feed concurrent broadcast builds in
    encode_mentions, which would each re-run a lazy rank tail."""
    return dense_ids(freq, _id_order(), group_col="role")


def role_vocabs(ranked: DataFrame) -> dict[str, DataFrame]:
    """{role: (term, id, cnt)} views of a ranked (role, term, cnt, id) frame."""
    return {
        role: ranked.filter(F.col("role") == role).select("term", "id", "cnt")
        for role, _ in ROLES
    }


def build_vocab(
    canonical_mentions: DataFrame,
    role_col: str,
    hash_ids: bool = False,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(term, id, cnt) for one component role. One shuffle (groupBy term),
    then the two-phase dense rank (no single-partition window).

    hash_ids=True is the reference's `--hash` mode
    (/root/reference/scripts/extract_vocabs.py:49-52: terms are replaced
    by mmh3.hash64 before counting). Two flavors:

    - hash_fn="xxhash64" (default, the SCALE path): id = xxhash64(term),
      entirely map-side JVM codegen — no rank shuffle at all, at the cost
      of non-dense 64-bit ids.
    - hash_fn="mmh3" (the PARITY path): the reference's exact
      transformation — term → str(uint64 mmh3 first half) — followed by
      the normal freq-desc dense rank, so export_vocab_text output is
      byte-identical to `extract_vocabs.py --hash`. The hash runs in an
      Arrow-batched pandas UDF (per-row Python inside the batch; parity
      use only, see functions/mmh3_compat.py)."""
    if hash_ids and hash_fn == "mmh3":
        from pyspark.sql.functions import pandas_udf

        from ..functions.mmh3_compat import hash64_unsigned_str

        mm = pandas_udf(hash64_unsigned_str, "string")
        hashed = canonical_mentions.withColumn(role_col, mm(F.col(role_col)))
        return build_vocab(hashed, role_col, hash_ids=False)
    if hash_ids:
        # hash ids need no first-occurrence tie-break — skip the conv-rank
        # join entirely; the whole build is one map-side-combined groupBy.
        freq = canonical_mentions.groupBy(F.col(role_col).alias("term")).agg(
            F.count("*").alias("cnt")
        )
        return freq.select("term", F.xxhash64("term").alias("id"), "cnt")
    freq = _vocab_freq(canonical_mentions, role_col)
    return dense_ids(freq, _id_order()).select("term", "id", "cnt")


def build_vocabs_fused(canonical_mentions: DataFrame) -> DataFrame:
    """The ranked (role, term, cnt, first_pos, id) frame of all three role
    vocabularies in ONE job chain: the fused role_freq aggregate, then
    rank_roles. Ids equal ``build_vocab``'s per role (ranks are computed
    per role); ``role_vocabs`` splits it into the three dictionaries."""
    return rank_roles(role_freq(canonical_mentions))


def encode_mentions(
    canonical_mentions: DataFrame,
    vocabs: dict[str, DataFrame],
    broadcast_threshold_rows: int = 50_000_000,
    sizes: dict[str, int] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """→ (encoded_unsorted, quarantine).

    encoded_unsorted keeps duplicates and the corpus-position columns
    (≙ .mapped.unsorted, /root/reference/scripts/map_dataset.py:43,67).
    quarantine holds mentions whose term missed a vocab (impossible when
    vocabs were built from the same stream; real when encoding a delta
    batch against frozen vocabs — reference drops & logs them).

    Join strategy per role: broadcast (the reference's in-memory dict
    probe, scripts/map_dataset.py:61-83) while the vocab is below
    ``broadcast_threshold_rows``; above it — a billion-surface corpus
    where no executor can hold the dictionary — a shuffle_hash join
    (hash, not sort-merge: the mention stream should never sort).
    ``sizes`` ({role: row count}) lets callers that already know the
    vocab sizes (the pipeline's _vocab_hints) decide without a count
    job; without it the broadcast default is kept for the small-vocab
    roles and Spark's own threshold machinery is NOT relied upon
    (F.broadcast is explicit either way)."""

    def _dict_join(left: DataFrame, role: str, on: str, id_alias: str) -> DataFrame:
        v = vocabs[role].select(F.col("term").alias(on), F.col("id").alias(id_alias))
        if sizes is not None and sizes.get(role, 0) > broadcast_threshold_rows:
            return left.join(v.hint("shuffle_hash"), on, "left")
        return left.join(F.broadcast(v), on, "left")

    joined = _dict_join(
        _dict_join(_dict_join(canonical_mentions, "s", "cs", "s"), "p", "pred", "p"),
        "o",
        "co",
        "o",
    )
    ok = joined.filter(F.col("s").isNotNull() & F.col("p").isNotNull() & F.col("o").isNotNull())
    quarantine = joined.filter(
        F.col("s").isNull() | F.col("p").isNull() | F.col("o").isNull()
    ).select(*_POS, "cs", "pred", "co")
    encoded = ok.select(
        *_POS, F.col("s").cast("long"), F.col("p").cast("long"), F.col("o").cast("long")
    )
    return encoded, quarantine
