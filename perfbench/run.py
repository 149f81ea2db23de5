"""Benchmark command for newscrawler_spark.

    python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 10 --trace 0

Run from the repository root.  One Spark driver at ``local[k]`` (k from
the host's CPU count) runs the workload as a closed loop for
``--seconds``, checks every unit's output against the repo's oracles
after the timed window, prints each metric with its unit, and ends with
one JSON line::

    {"correct": true, "attempted": 2, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` times one
traced unit and reports the per-layer metrics (``perfbench/trace.py``).
Its tracing overhead is measured against the untraced runs of the
workload already recorded; when there are none, it first makes the
``--trace 0`` run of the same seed.
Everything the run writes stays under
``.perfbench/`` in the repository: inputs and stores in ``work/``,
oracle digests in ``cache/``, and one result file per run in
``results/`` (traced runs add the spans and a per-layer table).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")

# The bounded metrics count CPU, not wall time: the host's CPUs are
# shared with other guests, whose load stretches a unit's wall (up to a
# third from one minute to the next) far more than its CPU.
END_TO_END = {
    "cpu_s": "s",
    "urls_per_cpu_s": "1/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

# wall-clock figures of the same units: printed and recorded with every
# run, for runs of a change and its parent made side by side
WALL = {
    "wall_s": "s",
    "urls_per_s": "1/s",
}

# corpus generations per run; setup_s takes their median
SETUP_REPEATS = 3


def spark_settings(host: dict) -> tuple[int, int]:
    """(task threads, driver heap MB) for this host.  Each task thread
    drives one Python worker, so half the CPUs keep every CPU busy; the
    heap is an eighth of RAM, clamped to 1-4 GB."""
    return max(1, host["nproc"] // 2), max(1024, min(4096, host["mem_total_mb"] // 8))


def start_spark(work: str, event_log: str | None, host: dict):
    threads, heap_mb = spark_settings(host)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
    })
    os.environ.pop("SPARK_GRAFT_STEP_TIMING", None)
    extra = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log}",
            "spark.eventLog.compress": "false",
        })
    from newscrawler_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{threads}]",
                     shuffle_partitions=threads, extra_conf=extra)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)
    # the next session in this process launches a fresh JVM
    SparkContext._gateway = SparkContext._jvm = None


def _run_units(wl, seconds: float, **hooks) -> list:
    """Closed loop: submit one unit, wait for it, repeat until the window
    has passed (at least one unit)."""
    from perfbench.workloads import Unit

    units = []
    deadline = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        try:
            units.append(wl.run_unit(**hooks))
        except Exception as e:  # a unit that raises is a failed attempt
            units.append(Unit(wall=time.perf_counter() - t0, urls=0, attempted=1, failed=1,
                              problems=[f"raised {type(e).__name__}: {str(e)[:300]}"]))
        if time.perf_counter() >= deadline:
            return units


def timed_window(wl, seconds: float) -> tuple[list, dict]:
    """The measured window, with the CPU and peak memory of the whole
    process tree (driver, JVM, Python workers) over it."""
    from perfbench import procstat

    pids = procstat.tree_pids()
    procstat.reset_peak_rss(pids)
    cpu0 = procstat.cpu_seconds(pids)
    units = _run_units(wl, seconds)
    pids = procstat.tree_pids()
    return units, {"cpu_s": procstat.cpu_delta(cpu0, procstat.cpu_seconds(pids)),
                   "peak_rss_mb": procstat.peak_rss_mb(pids)}


def traced_unit(spark, wl, tracer) -> tuple[object, dict]:
    """One traced unit, in the place the measured runs time their first
    unit, then the layer probes on what it committed.  The event log is
    read once Spark has stopped."""
    from perfbench import trace

    os.environ["SPARK_GRAFT_STEP_TIMING"] = "1"
    if wl.name == "ops_iterative":
        hooks = {"on_op": lambda name, phase, fn: tracer.timed(f"{name}.{phase}", fn)}
    else:
        def wrap_rounds(crawler):
            inner = crawler.run_round

            def run_round(round_id, frontier, seq_offset):
                with tracer.span("crawler.round", round=round_id):
                    return inner(round_id, frontier, seq_offset)

            crawler.run_round = run_round

        hooks = {"on_crawler": wrap_rounds}
    with tracer.span("unit"):
        unit = _run_units(wl, 0, **hooks)[0]
    probes = {}
    if unit.state is not None:
        if wl.name == "ops_iterative":
            probes = trace.extract_pages_probe(wl.paths["pages"], tracer)
        else:
            probes = trace.crawl_layer_probes(spark, unit.state, tracer)
    return unit, probes


def trace_layers(wl, unit, tracer, probes: dict, event_log: str,
                 untraced_wall: float) -> tuple[dict, list]:
    """Per-layer metrics of the traced unit, and for crawls one row per
    round."""
    from perfbench import trace

    log = trace.EventLog(event_log)
    span = tracer.named("unit")[-1]
    layers = {k: 0.0 for k in trace.PER_LAYER}
    layers.update(trace.spark_totals(log, span["start"], span["end"]))
    layers.update(probes)
    rounds = []
    if wl.name == "ops_iterative":
        layers.update(trace.ops_metrics(tracer, log))
        # every Python stage of the pass is a graph operator's extraction
        layers["extract.python_s"] = layers["spark.python_s"]
    elif unit.state is not None:
        rounds = trace.round_rows(unit.state.store, tracer, log)
        layers.update(trace.crawl_round_metrics(rounds, unit.state.store, tracer, log))
    layers["trace.wall_s"] = unit.wall
    layers["trace.overhead_s"] = unit.wall - untraced_wall
    return layers, rounds


def untraced_walls(results: str, workload: str) -> list[float]:
    """``wall_s`` of every untraced run of ``workload`` recorded in
    ``results``, whatever its seed: the traced run compares with their
    median, which varies less between seeds than one run does."""
    walls = []
    for path in glob.glob(os.path.join(results, f"{workload}-seed*.json")):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("trace") == 0:
            walls.append(rec["wall"]["wall_s"]["value"])
    return walls


def measure(args, out: str = OUT, sizes: dict | None = None) -> dict:
    """One benchmark run; returns the record also written to
    ``<out>/results``.  ``sizes`` shrinks the inputs (tests)."""
    from perfbench import oracles, procstat, trace
    from perfbench.workloads import make_workload

    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)
    if args.trace and not untraced_walls(results, args.workload):
        # the overhead needs an untraced run to compare with
        measure(argparse.Namespace(**{**vars(args), "trace": 0}), out, sizes)
    host = procstat.host_info()
    work = os.path.join(out, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    tracer = trace.Tracer()

    t0 = time.perf_counter()
    spark = start_spark(work, event_log, host)
    session_s = time.perf_counter() - t0
    try:
        wl = make_workload(args.workload, spark, work, args.seed, **(sizes or {}))
        gen_s = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.make_inputs(f"corpus{i}")
            gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        expected = oracles.cached(os.path.join(out, "cache"), wl.oracle_key(), wl.expected)
        oracle_s = time.perf_counter() - t0
        # no warm-up job: the first jobs of a fresh driver (Python workers,
        # class loading) are a cost every submitted crawl or pass pays
        setup = {"session_s": session_s, "corpus_s": statistics.median(gen_s)}

        if args.trace:
            unit, probes = traced_unit(spark, wl, tracer)
            units = [unit]
        else:
            units, window = timed_window(wl, args.seconds)
        for u in units:
            if u.state is not None:
                wl.check(u, expected)
    finally:
        stop_spark(spark)

    rounds, wall = [], {}
    if args.trace:
        untraced_wall = statistics.median(untraced_walls(results, args.workload))
        metrics, rounds = trace_layers(wl, unit, tracer, probes, event_log, untraced_wall)
        units_of = trace.PER_LAYER
    else:
        ok = [u for u in units if not u.failed] or units
        metrics = {
            "cpu_s": window["cpu_s"] / len(units),
            "urls_per_cpu_s": sum(u.urls for u in units) / window["cpu_s"],
            "peak_rss_mb": window["peak_rss_mb"],
            "setup_s": sum(setup.values()),
        }
        units_of = END_TO_END
        wall = {
            "wall_s": statistics.median(u.wall for u in ok),
            "urls_per_s": statistics.median(u.urls / u.wall for u in ok),
        }
    for u in units:
        wl.release(u)

    threads, heap_mb = spark_settings(host)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host,
        "spark": {"master": f"local[{threads}]", "driver_heap_mb": heap_mb},
        "setup": setup, "oracle_s": oracle_s,
        "unit_walls": [u.wall for u in units],
        "problems": [p for u in units for p in u.problems],
        "attempted": sum(u.attempted for u in units),
        "failed": sum(u.failed for u in units),
        "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()},
    }
    if wall:
        record["wall"] = {k: {"value": v, "unit": WALL[k]} for k, v in wall.items()}
    if rounds:
        record["rounds"] = rounds
    name = f"{args.workload}-seed{args.seed}{'-trace' if args.trace else ''}"
    with open(os.path.join(results, f"{name}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        trace.write_trace(os.path.join(results, f"{name}-spans.json"), tracer, metrics,
                          {"workload": args.workload, "seed": args.seed, "host": host})
    return record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_rounds", "crawl_bulk", "ops_iterative"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "newscrawler_spark")):
        print(f"perfbench: no newscrawler_spark package under {ROOT}; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    record = measure(args)
    h = record["host"]
    print(f"host: nproc={h['nproc']} mem_total_mb={h['mem_total_mb']} "
          f"python={h['python']} pyspark={h['pyspark']} pyarrow={h['pyarrow']} "
          f"pandas={h['pandas']} master={record['spark']['master']} "
          f"driver_heap_mb={record['spark']['driver_heap_mb']}")
    print(f"workload={args.workload} seed={args.seed} units={len(record['unit_walls'])} "
          f"oracle_s={record['oracle_s']:.3f} "
          + " ".join(f"{k}={v:.3f}" for k, v in record["setup"].items()))
    for p in record["problems"]:
        print(f"check failed: {p}")
    for k, m in {**record["metrics"], **record.get("wall", {})}.items():
        print(f"{k} {m['value']} {m['unit']}")
    print(f"failed_ratio {record['failed'] / max(record['attempted'], 1)}")
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
