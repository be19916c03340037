"""Shared checkpoint/resume stage machinery for pipeline plans.

A *stage* is a named DataFrame written to the warehouse together with a
per-write-task lineage-metrics table; a re-run skips stages whose table
already exists (kill the job after any stage and the next run resumes
there). Used by the linkage plan and the curation plan.
"""

from __future__ import annotations

import glob
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from levenshtein_spark.sources.tables import Warehouse


def stage_metrics(df: DataFrame, stage: str) -> DataFrame:
    """Per-partition lineage counters for a stage (north_rule requirement)."""
    return (
        df.withColumn("part", F.spark_partition_id())
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("rows"))
        .withColumn("stage", F.lit(stage))
    )


def footer_metrics(wh: Warehouse, stage: str) -> pa.Table:
    """``stage_metrics`` of a parquet stage table as an Arrow table, read on
    the driver from the footers of the files its write left: ``part`` is the write task's
    partition number (``part-NNNNN-*``), ``rows`` what that task wrote.
    No Spark job reads the table back."""
    rows: dict[int, int] = {}
    for f in glob.glob(os.path.join(wh.root, stage, "part-*.parquet")):
        part = int(os.path.basename(f).split("-")[1])
        rows[part] = rows.get(part, 0) + pq.read_metadata(f).num_rows
    parts = [part for part in sorted(rows) if rows[part]]
    return pa.table({
        "part": pa.array(parts, pa.int32()),
        "rows": pa.array([rows[part] for part in parts], pa.int64()),
        "stage": pa.array([stage] * len(parts), pa.string()),
    })


def _write_metrics(wh: Warehouse, name: str, out: DataFrame) -> None:
    if wh.catalog:
        wh.write(stage_metrics(out, name), f"metrics_{name}")
    else:
        wh.write_arrow(footer_metrics(wh, name), f"metrics_{name}")


def run_stage(wh: Warehouse, cfg, name: str, build) -> DataFrame:
    """Compute-or-resume one stage; persist data + metrics tables.

    On a parquet warehouse the only Spark jobs are the stage's own write:
    the read-back keeps the written schema and ``metrics_<name>`` is
    written on the driver from the footers. A resumed stage is read back
    with the schema stored in its footers, so it fires no Spark job; if its
    ``metrics_<name>`` is missing (a kill between the two writes), it is
    rebuilt, on a parquet warehouse from the footers with no Spark job.

    ``cfg`` needs only ``force: bool`` and ``stage_times: dict`` — any plan
    config dataclass qualifies.
    """
    if not cfg.force and wh.exists(name):
        out = wh.read(name)
        if not wh.exists(f"metrics_{name}"):
            _write_metrics(wh, name, out)
        return out
    t0 = time.perf_counter()
    out = wh.write(build(), name)
    _write_metrics(wh, name, out)
    cfg.stage_times[name] = time.perf_counter() - t0
    return out
