"""spark-shapes benchmark: one seeded workload on local[4], end-to-end
metrics (``--trace 0``) or per-layer metrics from a traced run
(``--trace 1``).

    python3 perfbench/run.py --workload probe_warm --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object: correct, attempted, failed,
metrics.  See perfbench/README.md for the workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid

from layers import (
    StatusReader,
    Tracer,
    host_steal_s,
    process_tree,
    tree_cpu_s,
    tree_peak_rss_mb,
)

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
DRIVER_MEMORY = "2g"
SETUP_ROUNDS = 3
MIN_ITERS = 3
WARMUP_MIN, WARMUP_CAP_S = 3, 8.0
WORKLOAD_NAMES = ("probe_warm", "skew_shuffle")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def session_config(work: str) -> dict:
    return {
        "spark.master": f"local[{CORES}]",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(2 * CORES),
        "spark.sql.adaptive.enabled": "true",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: peak RSS then moves with the memory
        # the engine's Python side and off-heap buffers use, not with
        # the JVM's lazy heap growth
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
            f" -Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/tmp",
    }


def start_session(work: str):
    from pyspark.sql import SparkSession  # noqa: PLC0415

    from pyshp_spark.sources.datasource import ShapefileDataSource  # noqa: PLC0415

    conf = session_config(work)
    b = SparkSession.builder.appName("spark-shapes-perfbench")
    for k, v in conf.items():
        b = b.master(v) if k == "spark.master" else b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(ShapefileDataSource)
    return spark, conf


def stop_session(spark) -> None:
    """Stop Spark, end the driver JVM (it exits when its stdin closes)
    and wait until every process it started is gone."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = [p for p in process_tree() if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.1)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Loop:
    """Closed loop of iterations for at least ``seconds`` (and at least
    ``min_iters``): per iteration wall, process-tree CPU and verdict.
    With ``tracer``, iterations alternate untraced / traced, so both are
    measured in the same window, and each traced one also records the
    Spark work between its watermarks."""

    def __init__(self, w, status, seconds: float, tracer=None, min_iters=MIN_ITERS):
        steal0 = host_steal_s()
        self.walls, self.cpus, self.traced, self.wins, self.errors = [], [], [], [], []
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or len(self.walls) < min_iters:
            traced = tracer is not None and len(self.walls) % 2 == 1
            if tracer is not None:
                tracer.enabled = traced
            mark = status.watermark()
            cpu0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                with w.tr.span("iteration"):
                    obs = w.run_once()
                wall = time.perf_counter() - t0
                cpu = tree_cpu_s() - cpu0
                ok, why = w.verify(obs, mark)
            except Exception as e:  # a failed iteration still counts
                wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
                ok, why = False, repr(e)
            self.walls.append(wall)
            self.cpus.append(cpu)
            self.traced.append(traced)
            if not ok:
                self.errors.append(why)
            if traced:
                self.wins.append(status.window(mark, status.watermark()))
        if tracer is not None:
            tracer.enabled = True
        self.rows = w.rows
        self.steal_s = host_steal_s() - steal0

    def rows_per_s(self, traced: bool = False) -> float:
        return median([self.rows / t for t, f in zip(self.walls, self.traced)
                       if f == traced])


def setup(w, tracer, status, trace: bool) -> tuple[dict, list]:
    """Set-up seconds by phase (the ingest phase is the median of
    SETUP_ROUNDS repeats) and, traced, the Spark work of each round."""
    phases = {}
    t0 = time.perf_counter()
    with tracer.span("setup.prepare"):
        w.prepare()
    phases["prepare_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tracer.span("setup.oracle"):
        w.oracle()
    phases["oracle_s"] = time.perf_counter() - t0
    rounds, round_wins = [], []
    for r in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        with tracer.span("setup.ingest", round=r):
            mark = w.setup_round()
        rounds.append(time.perf_counter() - t0)
        if trace:
            win = status.window(mark, status.watermark())
            win["wall_s"] = rounds[-1]
            round_wins.append(win)
    # warm up (JIT, Python worker pool, broadcast deserialisation) until
    # neither of the last two iterations set a new best by 5%, or for at
    # most WARMUP_CAP_S
    t0 = time.perf_counter()
    walls: list[float] = []
    while len(walls) < WARMUP_MIN or (
        min(walls[-2:]) < 0.95 * min(walls[:-2])
        and time.perf_counter() - t0 < WARMUP_CAP_S
    ):
        t1 = time.perf_counter()
        with tracer.span("setup.warmup"):
            mark = status.watermark()
            ok, why = w.verify(w.run_once(), mark)
        walls.append(time.perf_counter() - t1)
        if not ok:
            raise AssertionError(f"warm-up output wrong: {why}")
    phases["ingest_s"] = median(rounds)
    phases["warmup_s"] = time.perf_counter() - t0
    return phases, round_wins


def end_to_end(loop: Loop, setup_s: float, rss: dict) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (loop.rows_per_s(), "1/s"),
        "cpu_s_per_mrow": (median([c / loop.rows * 1e6 for c in loop.cpus]), "s"),
        "peak_rss_mb": (sum(rss.values()), "MB"),
    }


def per_layer(w, status, loop: Loop, round_wins, timed_spans) -> dict:
    from probes import layer_probes  # noqa: PLC0415

    def med(key, wins):
        return median([win[key] for win in wins])

    probe_s = [s["end"] - s["start"] for s in timed_spans
               if s["name"] == "action.noop_write"]
    wins = loop.wins
    traced_walls = [t for t, f in zip(loop.walls, loop.traced) if f]
    idle = [1 - win["task_run_s"] / (CORES * t) for win, t in zip(wins, traced_walls)]
    traced, plain = loop.rows_per_s(traced=True), loop.rows_per_s()
    out = {
        "sources.scan_s": (med("scan_s", round_wins), "s"),
        "sources.scans_per_ingest": (med("scan_stages", round_wins), "count"),
        "join.build_s": (med("wall_s", round_wins), "s"),
        "join.probe_s": (median(probe_s), "s"),
        "exchange.shuffle_write_mb": (med("shuffle_write_mb", wins), "MB"),
        "exchange.shuffle_records": (med("shuffle_records", wins), "count"),
        "exchange.task_skew": (med("task_skew", wins), "ratio"),
        "arrow.to_python_mb": (med("to_python_mb", wins), "MB"),
        "arrow.from_python_mb": (med("from_python_mb", wins), "MB"),
        "arrow.python_run_s": (med("python_run_s", wins), "s"),
        "spark.jobs": (med("jobs", wins), "count"),
        "spark.stages": (med("stages", wins), "count"),
        "spark.tasks": (med("tasks", wins), "count"),
        "spark.task_cpu_s": (med("task_cpu_s", wins), "s"),
        "spark.task_run_s": (med("task_run_s", wins), "s"),
        "spark.core_idle_frac": (median(idle), "ratio"),
        "trace.rows_per_s": (traced, "1/s"),
        "trace.rows_per_s_untraced": (plain, "1/s"),
        "trace.overhead_frac": (1 - traced / plain, "ratio"),
    }
    out.update(layer_probes(w))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        import pyspark  # noqa: F401, PLC0415

        import pyshp_spark  # noqa: F401, PLC0415
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS  # noqa: PLC0415

    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(ROOT, ".perfbench", run_id)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    t0 = time.perf_counter()
    spark, conf = start_session(work)
    session_s = time.perf_counter() - t0
    try:
        status = StatusReader(spark)
        tracer = Tracer(spark.sparkContext, bool(args.trace), run_id)
        w = WORKLOADS[args.workload](spark, tracer, status, args.seed, work)
        phases, round_wins = setup(w, tracer, status, bool(args.trace))
        phases["session_s"] = session_s
        setup_s = sum(phases.values())
        if args.trace:
            first = len(tracer.spans)
            loop = Loop(w, status, 2 * args.seconds, tracer, 2 * MIN_ITERS)
            metrics = per_layer(w, status, loop, round_wins, tracer.spans[first:])
            tracer.write(os.path.join(ROOT, ".perfbench", f"trace-{run_id}.json"),
                         status.by_job_group(run_id))
        else:
            loop = Loop(w, status, args.seconds)
        rss = tree_peak_rss_mb()
        if not args.trace:
            metrics = end_to_end(loop, setup_s, rss)
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        stop_s = time.perf_counter() - t0

    errors, attempted = loop.errors, len(loop.walls)
    print(json.dumps({"session": conf, "workload": args.workload, "seed": args.seed,
                      "iterations": len(loop.walls), "rows_per_iteration": loop.rows,
                      "setup_phases_s": phases, "walls_s": loop.walls,
                      "steal_s": loop.steal_s, "peak_rss_by_process_mb": rss,
                      "stop_s": stop_s, "run_wall_s": time.perf_counter() - T_START,
                      "errors": errors[:5]}))
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} failed_frac = {len(errors) / attempted:.6g} "
          f"({len(errors)}/{attempted} iterations)")
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
