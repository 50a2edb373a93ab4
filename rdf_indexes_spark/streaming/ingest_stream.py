"""Streaming index maintenance: Structured Streaming → LSM delta ingest.

The reference rebuilds its index from scratch on any corpus change
(/root/reference/scripts/process.sh:7-10). `delta.merge_delta` already
gives this repo incremental batch ingest (immutable sorted generations,
stable dense ids); this module closes the loop for a LIVE transcript
feed: ``readStream`` over the feed directory → ``foreachBatch`` →
``merge_delta``. Each micro-batch lands as one delta generation, so the
index is queryable (router partition-prunes every generation) while the
stream runs, and ``delta.compact`` folds generations back to one sorted
run on whatever cadence the operator chooses.

Exactly-once: Structured Streaming replays a micro-batch after a crash
(at-least-once into ``foreachBatch``), and ``merge_delta`` is an append —
replaying would double-ingest. The standard idempotent-sink pattern
applies: applied batch ids are recorded in ``stream_applied.json``
inside the index AFTER the merge commits, and a replayed batch id is
skipped. (A crash BETWEEN the merge commit and the manifest write can
still double-apply that one batch — the same window every
non-transactional foreachBatch sink has; merge_delta's triple-level
anti-join makes a replay add zero new triples, only a redundant empty
generation, so the index stays CORRECT either way.)

Vocabulary semantics per batch match the CLI ``ingest`` command:
``extend_vocab=True`` appends new terms with stable ids,
``extend_vocab=False`` is the frozen-vocabulary quarantine mode (the
reference's drop-and-log delta semantics).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from ..checkpoint import write_manifest
from .extract_stream import stream_transcripts


def _load_applied(path: str) -> dict:
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {}


def stream_ingest(
    spark: SparkSession,
    feed_path: str,
    index_dir: str,
    checkpoint_dir: str,
    max_files: int = 16,
    num_partitions: int | None = None,
    extend_vocab: bool = True,
    available_now: bool = True,
):
    """Start the streaming ingest query; returns the StreamingQuery.

    ``available_now=True`` drains everything currently in ``feed_path``
    then stops (the batch-catchup trigger); ``False`` keeps the query
    live for a continuously-written feed. Callers own
    ``awaitTermination``/``stop``.
    """
    from ..delta import merge_delta

    applied_path = os.path.join(index_dir, "stream_applied.json")

    def _apply(batch_df, batch_id: int) -> None:
        applied = _load_applied(applied_path)
        key = str(batch_id)
        if key in applied:  # crash-replay of a committed batch: skip
            return
        counters = merge_delta(
            batch_df.sparkSession,
            index_dir,
            batch_df,
            num_partitions=num_partitions,
            extend_vocab=extend_vocab,
            delta_id=f"stream-{batch_id}",
        )
        applied[key] = counters
        write_manifest(applied_path, applied)

    writer = (
        stream_transcripts(spark, feed_path, max_files=max_files)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
