"""Stage checkpointing with lineage + counters (north-rule resumability).

Each pipeline stage writes its output Parquet plus a ``_manifest.json``:
stage name, row count, output partition count, PER-PARTITION row and
byte counts keyed by part file (the north rule's per-partition lineage —
a resumed run can attribute a corrupt or short partition to its exact
file), schema, the fingerprint of its inputs, and a content fingerprint.
A rerun skips any stage whose manifest exists and whose input
fingerprint chain still matches — so a job killed after stage k resumes
at stage k+1 with byte-identical output.

The reference gets the same property for free from its file-per-script
design (process.sh reruns only missing files); we reproduce it for a
lineage that is otherwise one lazy DataFrame graph.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_manifest.json"


def _fingerprint(*parts: str) -> str:
    return hashlib.sha256("||".join(parts).encode()).hexdigest()[:16]


def read_manifest(path: str) -> dict | None:
    """The JSON object at ``path``; None when the file is missing or is
    not a JSON object (a torn or garbage manifest reads as absent, so its
    stage rebuilds instead of failing the run)."""
    try:
        with open(path) as f:
            obj = json.load(f)
    except (FileNotFoundError, ValueError):  # ValueError: JSON/Unicode decode
        return None
    return obj if isinstance(obj, dict) else None


def write_manifest(path: str, obj: dict) -> None:
    """Write ``obj`` as JSON to a temp file, then ``os.replace`` it onto
    ``path``: a crash mid-write leaves the previous file (or none), never
    a torn one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


class StageStore:
    """Parquet-backed stage cache under a work dir."""

    def __init__(self, spark: SparkSession, workdir: str, config_fingerprint: str = ""):
        self.spark = spark
        self.workdir = workdir
        self.config_fp = config_fingerprint
        os.makedirs(workdir, exist_ok=True)
        self.counters: dict[str, dict] = {}

    def _paths(self, stage: str) -> tuple[str, str]:
        d = os.path.join(self.workdir, stage)
        return d, os.path.join(d, MANIFEST)

    def manifest(self, stage: str) -> dict | None:
        return read_manifest(self._paths(stage)[1])

    def stage_fp(self, stage: str, input_fps: list[str]) -> str:
        return _fingerprint(stage, self.config_fp, *input_fps)

    def run(
        self,
        stage: str,
        inputs: list[str],
        build: "callable[[], DataFrame]",
    ) -> tuple[DataFrame, str]:
        """Return (df, fingerprint); builds + writes only on cache miss.

        ``inputs`` are fingerprints of upstream stages (or raw-input ids),
        chained into this stage's fingerprint — edit any upstream and every
        downstream stage invalidates.
        """
        d, mp = self._paths(stage)
        fp = self.stage_fp(stage, inputs)
        m = self.manifest(stage)
        if m and m.get("fingerprint") == fp:
            self.counters[stage] = {"rows": m["rows"], "cached": True, "elapsed_sec": 0.0}
            return self.spark.read.parquet(d), fp
        t0 = time.monotonic()
        df = build()
        df.write.mode("overwrite").parquet(d)
        out = self.spark.read.parquet(d)
        # per-PARTITION lineage: one grouped count over the written files
        # (same single scan a bare count() costs) keyed by source file, so
        # a resumed run can audit exactly which partition produced what
        # and a corrupt/short file is attributable, not just detectable.
        from pyspark.sql import functions as F

        per_file = {
            os.path.basename(r["f"]): int(r["count"])
            for r in out.groupBy(F.input_file_name().alias("f")).count().collect()
        }
        rows = sum(per_file.values())
        elapsed = time.monotonic() - t0
        file_bytes = {
            name: os.path.getsize(os.path.join(d, name))
            for name in sorted(os.listdir(d))
            if name.endswith(".parquet")
        }
        cap = 4096  # keep manifests readable for very wide stages
        manifest = {
            "stage": stage,
            "fingerprint": fp,
            "inputs": inputs,
            "rows": rows,
            "partitions": out.rdd.getNumPartitions(),
            "files": len(file_bytes),
            "partition_rows": dict(sorted(per_file.items())[:cap]),
            "partition_bytes": dict(list(file_bytes.items())[:cap]),
            "schema": out.schema.simpleString(),
            "elapsed_sec": round(elapsed, 3),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        write_manifest(mp, manifest)
        self.counters[stage] = {"rows": rows, "cached": False, "elapsed_sec": elapsed}
        return out, fp
