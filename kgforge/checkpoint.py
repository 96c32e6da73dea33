"""Checkpoint / lineage manifest — stage-level resume (SURVEY.md §7.6).

The reference is truncate-and-reload (pcornetclear,
Oracle/PCORNetLoader_ora.sql:2576-2593) with COMMIT per emitter; the
recast is a manifest of finished stages so a re-submitted run skips
completed work and produces the *identical* triple set (all ids are
content hashes, so replays are idempotent).

Manifest layout (out_dir/_checkpoints/<stage>.json):
  {run_id, stage, rows_out, wall_s, finished_ts, input_fingerprint}

A stage runs only when its manifest entry is missing or its input
fingerprint changed. Stage outputs are parquet directories written
atomically by Spark (job-level commit protocol), so a killed run leaves
either a complete stage or no manifest entry — the kill-and-rerun test
covers both sides.

On a real cluster with Iceberg jars, `input_fingerprint` is the source
snapshot id and stage outputs are Iceberg overwritePartitions; the logic
here is identical with directory-level granularity.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class StageResult:
    stage: str
    rows_out: int
    wall_s: float
    skipped: bool


class CheckpointManager:
    def __init__(self, spark: SparkSession, out_dir: str, run_id: str = "run"):
        self.spark = spark
        self.out_dir = out_dir
        self.run_id = run_id
        self.manifest_dir = os.path.join(out_dir, "_checkpoints")
        os.makedirs(self.manifest_dir, exist_ok=True)
        self.results: list[StageResult] = []

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.manifest_dir, f"{stage}.json")

    def _data_path(self, stage: str) -> str:
        return os.path.join(self.out_dir, stage)

    def is_done(self, stage: str, input_fingerprint: str = "") -> bool:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return False
        try:
            with open(p) as f:
                m = json.load(f)
        except (OSError, json.JSONDecodeError):
            return False
        if m.get("input_fingerprint") != input_fingerprint:
            return False
        # the data must actually exist (a deleted output invalidates)
        return os.path.exists(os.path.join(self._data_path(stage), "_SUCCESS"))

    def run_stage(
        self,
        stage: str,
        build: callable,
        input_fingerprint: str = "",
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Run `build()` -> DataFrame and persist it, unless the manifest
        says this stage already finished for the same input — then just
        reload the persisted output (no recompute; the resume test
        asserts this via the manifest timestamps)."""
        path = self._data_path(stage)
        if self.is_done(stage, input_fingerprint):
            self.results.append(StageResult(stage, -1, 0.0, skipped=True))
            return self.spark.read.parquet(path)
        t0 = time.time()
        df = build()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        out = self.spark.read.parquet(path)
        # row count from parquet footers — metadata-only, no second full
        # scan of the stage output (the Iceberg deployment reads this
        # from snapshot manifests; same discipline here)
        rows = _footer_row_count(path)
        wall = time.time() - t0
        with open(self._manifest_path(stage), "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "stage": stage,
                    "rows_out": rows,
                    "wall_s": round(wall, 3),
                    "finished_ts": time.time(),
                    "input_fingerprint": input_fingerprint,
                },
                f,
            )
        self.results.append(StageResult(stage, rows, wall, skipped=False))
        return out

    def manifest(self) -> list[dict]:
        out = []
        for fn in sorted(os.listdir(self.manifest_dir)):
            if fn.endswith(".json"):
                with open(os.path.join(self.manifest_dir, fn)) as f:
                    out.append(json.load(f))
        return out


def _footer_row_count(path: str) -> int:
    """Exact row count of a parquet directory from file footers only.
    Footer reads are tiny but serial-latency-bound over hundreds of
    stage files — a thread pool keeps this out of the per-stage fixed
    cost (it sits inside every stage's measured wall)."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    paths = [
        os.path.join(root, fn)
        for root, _dirs, files in os.walk(path)
        for fn in files
        if fn.endswith(".parquet")
    ]
    if not paths:
        return 0
    with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
        return sum(
            ex.map(lambda p: pq.ParquetFile(p).metadata.num_rows, paths)
        )


def fingerprint_input(path: str) -> str:
    """Cheap input fingerprint: parquet file names + sizes + mtimes, of a
    parquet directory or a single parquet file. (Iceberg snapshot id on
    a real deployment.)"""
    parts = []
    if os.path.isfile(path):
        walk = [(os.path.dirname(path), [], [os.path.basename(path)])]
    else:
        walk = os.walk(path)
    for root, _dirs, files in walk:
        for fn in sorted(files):
            if fn.endswith(".parquet"):
                st = os.stat(os.path.join(root, fn))
                parts.append(f"{fn}:{st.st_size}:{int(st.st_mtime)}")
    return "|".join(parts)
