"""Benchmark of the record-linkage engine on two seeded workloads.

    python3 perfbench/run.py --workload link_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. One process, one Spark driver on
``local[<cores>]``. With ``--trace 0`` it times the workload's call through the
package's public entry points for ``--seconds`` and prints the end-to-end
metrics; with ``--trace 1`` it runs a traced call in a fresh Spark session
with the event log on and prints the per-layer metrics. The last stdout line
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it records the inputs. ``--smoke`` runs every workload once at tiny
size and checks the output against ``BENCHMARK.json``. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

MIN_TIMED = 3  # timed calls per run, after one warm-up call
KERNEL_TIMINGS = 3

END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("records_per_s", "rows/s"),
    ("ckpt_bytes_per_input_byte", "ratio"),
    ("match_f1", "ratio"),
)
TABLES = ("normalized", "blocks", "pairs", "scored", "edges", "clusters", "cc_rounds", "result")


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric."""
    from tracing import PYTHON_LAYERS, PYTHON_METRICS, SPARK_LAYERS, SPARK_METRICS

    return (
        [(f"{layer}.{m}", unit, better) for layer in SPARK_LAYERS for m, unit, better in SPARK_METRICS]
        + [
            (f"{layer}.{key}", unit, "lower")
            for layer in PYTHON_LAYERS
            for key, unit, _ in PYTHON_METRICS.values()
        ]
        + [
            ("scoring.exact_pairs", "count", "higher"),
            ("scoring.fuzzy_pairs", "count", "lower"),
            ("scoring.pairs_per_s", "pairs/s", "higher"),
            ("pairs.candidates", "count", "lower"),
            ("pairs.max_block_rows", "rows", "lower"),
            ("pairs.hot_blocks", "count", "lower"),
            ("pairs.useful_ratio", "ratio", "higher"),
            ("kernel.exit_identical", "count", "higher"),
            ("kernel.exit_ldiff", "count", "higher"),
            ("kernel.hist_kills", "count", "higher"),
            ("kernel.dp_pairs", "count", "lower"),
            ("kernel.dp_cells", "count", "lower"),
            ("kernel.pairs_per_s_1core", "pairs/s", "higher"),
            ("clustering.rounds", "count", "lower"),
            ("warehouse.bytes_written", "bytes", "lower"),
            *[(f"warehouse.{t}_bytes", "bytes", "lower") for t in TABLES],
            ("session.start_s", "s", "lower"),
            ("session.warm_s", "s", "lower"),
            ("run.traced_wall_s", "s", "lower"),
            ("run.untraced_wall_s", "s", "lower"),
            ("run.trace_overhead_s", "s", "lower"),
            ("run.jobs_outside_spans", "count", "lower"),
        ]
    )


def pin_environment(work: str) -> None:
    """One driver on every core this process may use; all scratch in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} -Djava.io.tmpdir={tmp}".strip(),
    )


def start_session():
    """``get_spark`` + ``warm_python_workers``: what every job pays first."""
    from levenshtein_spark.session import get_spark, warm_python_workers

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    warm_python_workers(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def restart(spark):
    spark.stop()
    return start_session()[0]


def shutdown(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


class Runner:
    """Timed calls of one workload with their checks, counting failures."""

    def __init__(self, workload):
        self.wl = workload
        self.walls: list[float] = []
        self.bytes: list[int] = []
        self.attempted = 0
        self.failed = 0

    def rep(self, spark, tracer=None, inspect=None) -> None:
        from levenshtein_spark.session import release_caches
        from workloads import dir_bytes

        rep = self.attempted
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with tracer or contextlib.nullcontext():
                out = self.wl.call(spark, rep)
            wall = time.perf_counter() - t0
            self.wl.check(spark, out)
            written = sum(dir_bytes(t) for t in self.wl.written(rep))
            if inspect is not None:
                inspect(out, rep)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return
        finally:
            self.wl.cleanup(rep)
            release_caches(include_pinned=True)
            spark.catalog.clearCache()
        print(f"perfbench: {self.wl.name} call {rep}: {wall:.3f} s", file=sys.stderr)
        self.walls.append(wall)
        self.bytes.append(written)


def measure(spark, runner: Runner, seconds: float, setup: float) -> dict:
    """End-to-end metrics: repeat the timed call for ``seconds``, at least
    ``MIN_TIMED`` times, after one checked warm-up call (the first call of a
    process also pays the JVM's JIT warm-up)."""
    runner.rep(spark)
    first = len(runner.walls)
    deadline = time.perf_counter() + seconds
    while runner.attempted <= MIN_TIMED or time.perf_counter() < deadline:
        runner.rep(spark)
    walls, written = runner.walls[first:], runner.bytes[first:]
    if not walls:
        return {}
    wl = runner.wl
    wall = statistics.median(walls)
    return {
        "setup_s": setup,
        "wall_s": wall,
        "records_per_s": wl.inputs["input_rows"] / wall,
        "ckpt_bytes_per_input_byte": statistics.median(written) / wl.inputs["source_bytes"],
        "match_f1": wl.f1,
    }


def table_kind(path: str) -> str:
    """Which ``warehouse.<kind>_bytes`` a written table counts towards."""
    name = os.path.basename(path).removeprefix("metrics_")
    return name if name in TABLES else "result"


def inspect_outputs(spark, wl, tracer, out: dict, rep: int) -> dict:
    """Counts read back from what the traced call wrote, before cleanup."""
    import pyspark.sql.functions as F
    from workloads import dir_bytes, kernel_pairs

    m: dict = {}
    written = wl.written(rep)
    for t in written:
        key = f"warehouse.{table_kind(t)}_bytes"
        m[key] = m.get(key, 0) + dir_bytes(t)
        if table_kind(t) == "cc_rounds":
            # minus the initial edge table and the final no-change check
            m["clustering.rounds"] = len([r for r in os.listdir(t) if r.startswith("cc_round_")]) - 2
    m["warehouse.bytes_written"] = sum(dir_bytes(t) for t in written)
    if "closest" in out:
        m["closest.rows_out"] = out["closest"].count()
    else:
        wh = out["warehouse"]
        for layer, stage, _, _ in tracer.spans:
            rows = wh.read(f"metrics_{stage}").agg(F.sum("rows")).first()[0] or 0
            m[f"{layer}.rows_out"] = m.get(f"{layer}.rows_out", 0) + rows
        by_dupe = {r[0]: r[1] for r in out["scored"].groupBy("exact_dupe").count().collect()}
        sizes = out["blocks"].groupBy("block_key").count()
        top, hot = sizes.agg(
            F.max("count"), F.sum((F.col("count") > wl.sizes.hot_threshold).cast("int"))
        ).first()
        m["scoring.exact_pairs"] = by_dupe.get(True, 0)
        m["scoring.fuzzy_pairs"] = by_dupe.get(False, 0)
        m["pairs.candidates"] = out["pairs"].count()
        m["pairs.max_block_rows"] = top
        m["pairs.hot_blocks"] = hot
        m["pairs.useful_ratio"] = out["edges"].count() / max(m["pairs.candidates"], 1)
    m["kernel_sample"] = kernel_pairs(wl, out)
    return m


def kernel_metrics(a: list, b: list, k: int) -> dict:
    """Exact kernel counters and the 1-core rate on the sampled pairs."""
    from levenshtein_spark import kernel

    times = []
    for _ in range(KERNEL_TIMINGS):
        t0 = time.perf_counter()
        kernel.batch_edit_distance(a, b, k)
        times.append(time.perf_counter() - t0)
    kernel.enable_stats(True)
    kernel.batch_edit_distance(a, b, k)
    stats = kernel.stats_snapshot()
    kernel.enable_stats(False)
    m = {f"kernel.{c}": stats[c] for c in ("exit_identical", "exit_ldiff", "hist_kills", "dp_pairs", "dp_cells")}
    m["kernel.pairs_per_s_1core"] = len(a) / statistics.median(times)
    return m


def traced(spark, runner: Runner, work: str) -> tuple[object, dict]:
    """Per-layer metrics of one traced call in a fresh, event-logged session."""
    from tracing import StageTracer, enable_event_log, event_log_layers

    wl = runner.wl
    runner.rep(spark)  # warm-up: the first call of a process pays the JIT
    # the untraced and the traced call are each the first call after a
    # session restart, so their difference is the cost of tracing alone
    spark = restart(spark)
    done = len(runner.walls)
    runner.rep(spark)
    if len(runner.walls) == done:
        return spark, {}
    untraced = runner.walls[-1]
    log_dir = os.path.join(work, "eventlog")
    enable_event_log(spark, log_dir)
    spark = restart(spark)
    tracer = StageTracer(spark, wl.layer_of, wl.outside_layer)
    found: dict = {}
    runner.rep(spark, tracer, lambda out, rep: found.update(inspect_outputs(spark, wl, tracer, out, rep)))
    if not found:
        return spark, {}
    app_id = spark.sparkContext.applicationId
    spark.stop()  # flushes and closes the event log
    layers, outside = event_log_layers(log_dir, app_id, tracer)
    m = {f"{layer}.{k}": v for layer, lm in layers.items() for k, v in lm.items()}
    m.update(found)
    m.update(kernel_metrics(*m.pop("kernel_sample")))
    if "scoring.exact_pairs" in m:
        m["scoring.pairs_per_s"] = (m["scoring.exact_pairs"] + m["scoring.fuzzy_pairs"]) / m["scoring.span_s"]
    m["run.traced_wall_s"] = tracer.wall
    m["run.untraced_wall_s"] = untraced
    m["run.trace_overhead_s"] = tracer.wall - untraced
    m["run.jobs_outside_spans"] = outside
    if outside:
        print(f"perfbench: {outside} jobs ran outside their layer's spans", file=sys.stderr)
        runner.failed += 1
    return None, m


def run(args) -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    pin_environment(work)
    from workloads import FULL, TINY, WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, work, TINY if args.tiny else FULL)
    runner = Runner(wl)
    spark = None
    try:
        # one cold start per run process, JVM launch included; the driver's
        # median over runs is the statistic
        spark, start_s, warm_s = start_session()
        if args.trace:
            wl.prepare(spark)
            spark, values = traced(spark, runner, work)
            values.update({"session.start_s": start_s, "session.warm_s": warm_s})
            declared = [(n, u) for n, u, _ in per_layer_metrics()]
        else:
            t0 = time.perf_counter()
            wl.prepare(spark)
            print(f"perfbench: setup {start_s + warm_s:.3f} s, prepare {time.perf_counter() - t0:.3f} s",
                  file=sys.stderr)
            values = measure(spark, runner, args.seconds, start_s + warm_s)
            declared = list(END_TO_END)
    finally:
        shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    if not values:
        print("perfbench: no timed call completed", file=sys.stderr)
        return 1
    print(json.dumps({"inputs": wl.inputs}))
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {n: {"value": values.get(n, 0), "unit": u} for n, u in declared},
            }
        )
    )
    return 0


def smoke() -> int:
    """Every workload once at tiny size, traced and not, checked against
    BENCHMARK.json; then the benchmark alone, which must refuse to run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        manifest = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in manifest["end_to_end"]},
        1: {m["name"]: m["unit"] for m in manifest["per_layer"]},
    }
    problems = []
    for w in manifest["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"], "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            where = f"{w['name']} --trace {trace}"
            if p.returncode != 0:
                problems.append(f"{where}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            result = json.loads(p.stdout.strip().splitlines()[-1])
            got = {n: m["unit"] for n, m in result["metrics"].items()}
            if set(result) != {"correct", "attempted", "failed", "metrics"} or got != want[trace]:
                problems.append(f"{where}: metric names or units differ from BENCHMARK.json")
            if not result["correct"] or result["failed"]:
                problems.append(f"{where}: output checks failed\n{p.stderr[-2000:]}")
            print(f"{where}: {'ok' if not problems else 'FAILED'}", file=sys.stderr)
    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    shutil.copytree(HERE, os.path.join(bare, os.path.basename(HERE)))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = subprocess.run([sys.executable, *manifest["command"][1:], "--workload", "link_batch",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare)
    if p.returncode == 0 or p.stdout.strip():
        problems.append("without the package the benchmark did not fail")
    for problem in problems:
        print(problem, file=sys.stderr)
    print("smoke:", "FAILED" if problems else "ok", file=sys.stderr)
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["link_batch", "closest_match"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (smoke runs)")
    ap.add_argument("--smoke", action="store_true", help="run every workload once at tiny size")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "levenshtein_spark", "__init__.py")):
        print(f"perfbench: no levenshtein_spark package under {ROOT}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
