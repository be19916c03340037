"""Per-layer tracing from outside the package.

A job group and a wall-clock span are put around every ``run_stage`` call the
linkage plan makes (by wrapping the plan module's ``_stage`` reference), and
the Spark event log of the traced session is parsed into per-layer counts.
Jobs fired by the timed call outside every stage span go to the workload's
``outside_layer``.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict

import levenshtein_spark.plans.linkage as linkage

SPARK_LAYERS = ("normalize", "blocking", "pairs", "scoring", "clustering", "checks", "closest")
# name, unit, better
SPARK_METRICS = (
    ("span_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("stages", "count", "lower"),
    ("tasks", "count", "lower"),
    ("failed_tasks", "count", "lower"),
    ("executor_run_s", "s", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("shuffle_read_bytes", "bytes", "lower"),
    ("driver_gap_s", "s", "lower"),
    ("rows_out", "rows", "lower"),
)
# ArrowEvalPython SQL metrics (pythonDataSent, pythonDataReceived,
# pythonTotalTime, pythonBootTime) by the names the event log gives them;
# the timings are in ms
PYTHON_METRICS = {
    "data sent to Python workers": ("python_sent_bytes", "bytes", 1),
    "data returned from Python workers": ("python_received_bytes", "bytes", 1),
    "time to run Python workers": ("python_time_s", "s", 1e-3),
    "time to start Python workers": ("python_boot_s", "s", 1e-3),
}
PYTHON_LAYERS = ("scoring", "closest")

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
}


def enable_event_log(spark, log_dir: str) -> None:
    """Make every SparkContext started later in this JVM write an event log.

    A new SparkConf loads the JVM's ``spark.*`` system properties, so the
    package's session factory picks these up unchanged."""
    os.makedirs(log_dir, exist_ok=True)
    system = spark.sparkContext._jvm.java.lang.System
    for k, v in {**EVENT_LOG_CONF, "spark.eventLog.dir": f"file://{log_dir}"}.items():
        system.setProperty(k, v)


class StageTracer:
    """Context manager: job group + span per ``run_stage`` call of the plan."""

    def __init__(self, spark, layer_of, outside_layer: str):
        self.sc = spark.sparkContext
        self.layer_of = layer_of
        self.outside = outside_layer
        self.spans: list[tuple[str, str, float, float]] = []  # layer, stage, t0, t1

    def __enter__(self) -> "StageTracer":
        self.run_stage = linkage._stage

        def traced(wh, cfg, name, build):
            layer = self.layer_of(name)
            self.sc.setJobGroup(layer, name)
            t0 = time.time()
            try:
                return self.run_stage(wh, cfg, name, build)
            finally:
                self.spans.append((layer, name, t0, time.time()))
                self.sc.setJobGroup(self.outside, self.outside)

        linkage._stage = traced
        self.sc.setJobGroup(self.outside, self.outside)
        self.t0 = time.time()
        return self

    def __exit__(self, *exc) -> None:
        self.t1 = time.time()
        linkage._stage = self.run_stage
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    def layer_spans(self) -> dict[str, list[tuple[float, float]]]:
        spans = defaultdict(list)
        for layer, _, t0, t1 in self.spans:
            spans[layer].append((t0, t1))
        return spans


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def event_log_layers(
    log_dir: str, app_id: str, tracer: StageTracer, slack: float = 0.05
) -> tuple[dict[str, dict], int]:
    """Per-layer Spark counters of the traced call, from its event log, and
    the number of jobs that ran outside every span of their layer."""
    files = glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*"))
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    spans = tracer.layer_spans()
    spans[tracer.outside] = [(tracer.t0, tracer.t1)]
    out = {layer: defaultdict(float) for layer in SPARK_LAYERS}
    jobs: dict[str, list[tuple[float, float]]] = defaultdict(list)
    job_open: dict[int, tuple[str, float]] = {}
    stage_layer: dict[int, str] = {}
    outside = 0
    for path in sorted(files):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = ev["Properties"].get("spark.jobGroup.id")
                    if group in spans:
                        job_open[ev["Job ID"]] = (group, ev["Submission Time"] / 1e3)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_open:
                    group, t0 = job_open.pop(ev["Job ID"])
                    t1 = ev["Completion Time"] / 1e3
                    jobs[group].append((t0, t1))
                    outside += not any(a - slack <= t0 and t1 <= b + slack for a, b in spans[group])
                elif kind == "SparkListenerStageSubmitted":
                    group = ev["Properties"].get("spark.jobGroup.id")
                    if group in spans:
                        stage_layer[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerStageCompleted":
                    if ev["Stage Info"]["Stage ID"] in stage_layer:
                        out[stage_layer[ev["Stage Info"]["Stage ID"]]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_layer:
                    m = out[stage_layer[ev["Stage ID"]]]
                    m["tasks"] += 1
                    m["failed_tasks"] += ev["Task End Reason"]["Reason"] != "Success"
                    tm = ev.get("Task Metrics") or {}
                    m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    m["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    sr = tm.get("Shuffle Read Metrics", {})
                    m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    for acc in ev["Task Info"].get("Accumulables", []):
                        if acc.get("Name") in PYTHON_METRICS:
                            key, _, scale = PYTHON_METRICS[acc["Name"]]
                            m[key] += float(acc["Update"]) * scale
    staged = sum(b - a for layer, iv in spans.items() if layer != tracer.outside for a, b in iv)
    for layer, m in out.items():
        if layer == tracer.outside:
            m["span_s"] = tracer.wall - staged
        else:
            m["span_s"] = sum(b - a for a, b in spans.get(layer, []))
        m["jobs"] = len(jobs[layer])
        m["driver_gap_s"] = m["span_s"] - _union_s(jobs[layer])
    return out, outside
