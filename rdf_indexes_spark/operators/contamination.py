"""Benchmark decontamination: n-gram overlap between a training corpus
and a held-out benchmark/eval set.

The standard training-data hygiene step (GPT-3 appendix C / PaLM /
Llama style): a training document is *contaminated* when it shares at
least one token n-gram with any benchmark document. We report, per
corpus document, how many of its distinct n-grams appear anywhere in
the benchmark and how many distinct benchmark documents it collides
with, so callers can either drop whole documents or route them to a
span-removal pass (operators/dedup.duplicate_spans does the span-level
variant).

Scale shape (100 TB corpus, benchmark ≪ corpus):
 - n-gram generation is a pure JVM expression (split → sequence →
   transform/slice/array_join) — whole-stage codegen, no Python;
 - each side is reduced to (id, gram-key) pairs BEFORE the join, so
   document text never rides a shuffle;
 - gram keys are xxhash64 longs by default (`hashed_keys=True`): an
   8-gram string is ~50-60 bytes, its hash is 8 — the join exchange
   shrinks ~7×. Collision risk 2^-64 per pair, fine for filtering
   (set hashed_keys=False for byte-exact auditing);
 - the benchmark side is tiny in practice, so it is broadcast — the
   corpus side never shuffles at all in the default configuration.

The reference has no decontamination analogue; this extends the
training-data-pipeline surface beside dedup.py (same tokenizer:
whitespace split of lower(trim(text))).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tokens(text_col: str):
    """Whitespace tokens of lower(trim(text)) — the module's normalizer
    (same contract as operators/dedup.tokens_col)."""
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def ngram_key_array(text_col: str, n: int, hashed: bool = True, with_pos: bool = False):
    """One-pass n-gram KEY array: the space-joined token n-grams of
    ``text_col`` in text order (documents with fewer than n tokens
    contribute none), as xxhash64 keys (``hashed``) or strings.

    Two measured pathologies of the naive shape (``F.transform`` over
    ``F.slice`` of the ``tokens`` column) at scale:
    (a) the position lambda references the ``split()`` expression
    INLINE, so Catalyst re-evaluates the whole-text tokenization once
    per gram position (~4× CPU at n=8); (b) gram strings materialize
    through the explode only to be hashed afterwards (~4× again on the
    generate + exchange). Here the split is bound once as an outer
    LAMBDA VARIABLE (``array(split(..)) → transform``) and the xxhash64
    is applied INSIDE the same expression, so only 8-byte longs leave
    the projection. Same normalization as :func:`tokens` (verified
    hashed ≡ raw in tests).

    with_pos=True returns array<struct<start,g>> (1-based gram start),
    for span-level consumers.
    """
    gram = f"array_join(slice(toks, i, {n}), ' ')"
    if hashed:
        gram = f"xxhash64({gram})"
    gtype = "bigint" if hashed else "string"
    if with_pos:
        elem = f"struct(i as start, {gram} as g)"
        etype = f"array<struct<start:int,g:{gtype}>>"
    else:
        elem = gram
        etype = f"array<{gtype}>"
    return F.expr(
        f"flatten(transform(array(split(lower(trim({text_col})), '\\\\s+')), "
        f"toks -> CASE WHEN size(toks) >= {n} THEN "
        f"transform(sequence(1, size(toks) - {n - 1}), i -> {elem}) "
        f"ELSE cast(array() as {etype}) END))"
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    hashed_keys: bool = True,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """(doc_id, n_hit_ngrams, n_bench_docs, contaminated) per corpus doc.

    n_hit_ngrams — distinct n-grams of the document that occur anywhere
    in the benchmark; n_bench_docs — distinct benchmark documents it
    shares at least one n-gram with; contaminated — 1 if n_hit_ngrams>0.
    Every corpus document appears exactly once (zeros when clean).
    """
    # one-pass keyed grams (split bound once, hash in-expression — see
    # ngram_key_array); per-doc array_distinct runs over longs, cheap
    cg = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(ngram_key_array(text_col, n, hashed_keys))).alias("g"),
    )
    bg = benchmark.select(
        F.col(bench_id_col).alias("bench_id"),
        F.explode(F.array_distinct(ngram_key_array(bench_text_col, n, hashed_keys))).alias("g"),
    ).dropDuplicates(["g", "bench_id"])
    if broadcast_benchmark:
        bg = F.broadcast(bg)

    hits = (
        cg.join(bg, "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_hit_ngrams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )
    return (
        corpus.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hit_ngrams", F.lit(0)).cast("long").alias("n_hit_ngrams"),
            F.coalesce("n_bench_docs", F.lit(0)).cast("long").alias("n_bench_docs"),
            F.when(F.coalesce("n_hit_ngrams", F.lit(0)) > 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("contaminated"),
        )
    )


def remove_contaminated_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    hashed_keys: bool = True,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """(doc_id, text, removed_tokens): the span-level decontamination
    pass — instead of dropping whole documents, cut exactly the token
    positions covered by any benchmark-overlapping n-gram and keep the
    rest (the usual salvage step after `decontaminate` flags a doc).

    The returned text is normalized (lowercase, single-space joined) —
    the same normalization the n-gram match itself is defined over.
    Every corpus document appears exactly once; a fully-contaminated
    document comes back with empty text and removed_tokens = its
    token count.

    Scale shape: the corpus rides the lineage as (doc_id, pos, token)
    triples — text is never a shuffle key; benchmark grams broadcast
    as in `decontaminate`; covered positions are derived by exploding
    each hit's [start, start+n-1] range and anti-joining.
    """
    base = corpus.select(
        F.col(id_col).alias("doc_id"),
        tokens(text_col).alias("toks"),
    )
    # (doc_id, start, gramkey): 1-based start of every corpus n-gram —
    # positions and keys built in ONE pass (ngram_key_array with_pos);
    # gram strings never materialize on the corpus side
    cg = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ngram_key_array(text_col, n, hashed_keys, with_pos=True)).alias("sg"),
    ).select("doc_id", F.col("sg.start").alias("start"), F.col("sg.g").alias("g"))

    bg = (
        benchmark.select(
            F.explode(F.array_distinct(ngram_key_array(bench_text_col, n, hashed_keys))).alias("g")
        )
        .distinct()
    )
    if broadcast_benchmark:
        bg = F.broadcast(bg)

    covered = (
        cg.join(bg, "g")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(n - 1))
            ).alias("pos"),
        )
        .dropDuplicates(["doc_id", "pos"])
    )

    tp = base.select("doc_id", F.posexplode("toks").alias("pos0", "tok")).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "tok"
    )
    kept = (
        tp.join(covered, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("text"),
            F.count("*").alias("n_kept"),
        )
    )
    return (
        base.select("doc_id", F.size("toks").alias("n_toks"))
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            (F.col("n_toks") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("removed_tokens"),
        )
    )


def source_overlap(
    docs: DataFrame,
    n: int = 8,
    source_col: str = "source",
    text_col: str = "text",
    hashed_keys: bool = True,
) -> DataFrame:
    """Cross-source n-gram containment matrix: for every ordered pair of
    corpus sources (a, b), how much of a's distinct n-gram set also
    occurs in b. The corpus-level companion to :func:`decontaminate` —
    data-mixing decisions (and leakage audits between crawl snapshots,
    dumps, or vendors) start from exactly this matrix.

    Returns one row per ordered source pair with any overlap:
    (source_a, source_b, ngrams_a, ngrams_b, common,
    containment_a_in_b) where containment = common / ngrams_a — a single
    integer-over-integer IEEE division, identical in any engine.

    Shape at scale: ONE explode pass → distinct (source, gram) hash
    aggregate (absorbs within-source repetition map-side; keys carry the
    gram so no hot key); the pair join is gram-keyed and each gram
    matches at most |sources| rows per side, so the worst-case blowup is
    |sources|² per gram — bounded by the (small) source cardinality, not
    the corpus; per-source totals ride back in as a broadcast dimension.
    Document text never crosses a shuffle (grams only). With
    ``hashed_keys`` (default) the gram is reduced map-side to its
    xxhash64 long BEFORE the distinct, so both wide exchanges (the
    distinct hash-agg and the pair join) carry 8-byte keys instead of
    ~8·word strings — same counts up to a 2⁻⁶⁴ collision (the same
    trade :func:`decontaminate` documents; pass False for byte-exact
    auditing).
    """
    # one-pass keyed gram generation (split bound once, hash applied
    # in-expression — see ngram_key_array; measured 10× end-to-end vs
    # the explode-strings-then-hash shape). The global distinct below
    # subsumes a per-doc array_distinct.
    grams = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(source_col).alias("src"),
            F.explode(ngram_key_array(text_col, n, hashed_keys)).alias("gram"),
        )
        .distinct()
    )
    totals = grams.groupBy("src").agg(F.count(F.lit(1)).alias("n_grams"))
    pairs = (
        grams.alias("a")
        .join(grams.alias("b"), "gram")
        .filter(F.col("a.src") != F.col("b.src"))
        .groupBy(F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ta = F.broadcast(totals.select(F.col("src").alias("source_a"), F.col("n_grams").alias("ngrams_a")))
    tb = F.broadcast(totals.select(F.col("src").alias("source_b"), F.col("n_grams").alias("ngrams_b")))
    return (
        pairs.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("ngrams_a").cast("long").alias("ngrams_a"),
            F.col("ngrams_b").cast("long").alias("ngrams_b"),
            F.col("common").cast("long").alias("common"),
            (F.col("common").cast("double") / F.col("ngrams_a").cast("double")).alias(
                "containment_a_in_b"
            ),
        )
    )
