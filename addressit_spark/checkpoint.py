"""Per-stage snapshot tables: resume + per-partition lineage metrics.

Every pipeline stage can materialize to a deterministic parquet path
(``<dir>/<stage>``). On re-entry, a stage whose snapshot exists (parquet
``_SUCCESS`` marker) is read back instead of recomputed — the batch analogue
of the north_rule's "resumes from per-partition snapshot checkpoints".
Alongside each snapshot a ``_metrics.json`` records row count and partition
row histogram (per-partition lineage), read from the parquet footers of the
part files just written (no Spark job), and the stage's input fingerprint —
which names the input documents as well as the stage's parameters — so a
resumed run can prove it is continuing the same inputs.
"""

from __future__ import annotations

import json
import os
from typing import Callable, Dict, Optional

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


def _success_marker(path: str) -> str:
    return os.path.join(path, "_SUCCESS")


def stage_metrics(path: str) -> Dict[str, object]:
    """Row count + per-write-partition row histogram of a parquet snapshot,
    summed from the footers of its part files."""
    per_part: Dict[str, int] = {}
    for name in os.listdir(path):
        if name.startswith("part-") and name.endswith(".parquet"):
            # part-<write partition>-<job uuid>-c<file>...: a task that
            # rolls over to a second file keeps its partition number
            key = str(int(name.split("-")[1]))
            rows = pq.read_metadata(os.path.join(path, name)).num_rows
            per_part[key] = per_part.get(key, 0) + rows
    return {
        "rows": sum(per_part.values()),
        "partitions": len(per_part),
        "partition_rows": per_part,
    }


class StageStore:
    """Snapshot/resume manager for one pipeline run directory."""

    def __init__(self, spark: SparkSession, base_dir: Optional[str], resume: bool = True):
        self.spark = spark
        self.base_dir = base_dir
        self.resume = resume
        self.lineage: Dict[str, Dict[str, object]] = {}

    def run(
        self, stage: str, fn: Callable[[], DataFrame], input_fingerprint: str = ""
    ) -> DataFrame:
        """Compute-or-reload one stage; record lineage metrics either way.

        With no snapshot dir the stage is pinned by an eager
        ``localCheckpoint``. With one, it is written to ``<dir>/<stage>``
        and read back, or resumed from there when the snapshot's recorded
        fingerprint equals ``input_fingerprint``.
        """
        import time

        if self.base_dir is None:
            # Pin with an eager localCheckpoint so downstream self-joins
            # (pair generation, CC) read materialized blocks instead of
            # re-running the parse/score subtree per branch.
            t0 = time.monotonic()
            df = fn().localCheckpoint(eager=True)
            self.lineage[stage] = {
                "resumed": False,
                "materialized": "localCheckpoint",
                # eager checkpoint = the stage genuinely executed here, so
                # this is real per-stage wall time (bench attribution reads it)
                "wall_sec": round(time.monotonic() - t0, 3),
            }
            return df

        path = os.path.join(self.base_dir, stage)
        meta_path = os.path.join(self.base_dir, stage + "_metrics.json")
        if self.resume and os.path.exists(_success_marker(path)):
            meta = {}
            if os.path.exists(meta_path):
                with open(meta_path) as fh:
                    meta = json.load(fh)
            # resume only a snapshot proven to be THIS computation: the
            # recorded fingerprint (input identity + stage parameters, per
            # run_pipeline) must match. A mismatched snapshot — same dir,
            # different data or e.g. a different max_block_size — would
            # silently poison every downstream stage (a stale sim map
            # zeroes similarities under the distinct-id miss policy), so
            # it is recomputed and overwritten instead, and so is a
            # snapshot with no recorded fingerprint: it has no claim to
            # verify.
            if meta.get("input_fingerprint") == input_fingerprint:
                df = self.spark.read.parquet(path)
                meta["resumed"] = True
                self.lineage[stage] = meta
                return df

        t0 = time.monotonic()
        df = fn()
        df.write.mode("overwrite").parquet(path)
        wall = round(time.monotonic() - t0, 3)
        meta = stage_metrics(path)
        meta.update(
            {
                "stage": stage,
                "input_fingerprint": input_fingerprint,
                "resumed": False,
                "wall_sec": wall,
            }
        )
        with open(meta_path, "w") as fh:
            json.dump(meta, fh, indent=1, sort_keys=True)
        self.lineage[stage] = meta
        return self.spark.read.parquet(path)

    def write_lineage(self) -> None:
        if self.base_dir is None:
            return
        with open(os.path.join(self.base_dir, "lineage.json"), "w") as fh:
            json.dump(self.lineage, fh, indent=1, sort_keys=True, default=str)
