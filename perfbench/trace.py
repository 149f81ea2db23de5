"""The traced run: spans around calls into each layer, the Spark event
log, and timed calls to the crawl layers' public functions on the
inputs a crawl committed.

Nothing here reaches inside ``newscrawler_spark``: a span wraps a public
call (``FrontierCrawler.run_round``, an operator builder, an action),
the step walls come from the manifests the crawler writes when
``SPARK_GRAFT_STEP_TIMING=1``, and the task metrics from the event log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

# Per-layer metrics of a traced run: name → unit.  Every traced run
# reports all of them; a layer the workload never enters reads 0.
OP_NAMES = ("graph.hits", "graph.lpa", "graph.kcore", "graph.seed_depth",
            "graph.pagerank", "cluster.kmeans", "rag.mmr")
PER_LAYER = {
    "seen.anti_join_s": "s",
    "seen.bloom_s": "s",
    "seen.write_s": "s",
    "seen.new_ratio": "ratio",
    "robots.filter_s": "s",
    "robots.denied": "count",
    "politeness.admit_s": "s",
    "politeness.admit_ratio": "ratio",
    "fetch.join_s": "s",
    "fetch.hit_ratio": "ratio",
    "extract.batch_s": "s",
    "extract.rows_per_s": "1/s",
    "extract.python_s": "s",
    "storage.articles_s": "s",
    "storage.cache_fill_s": "s",
    "storage.crawl_logs_s": "s",
    "storage.frontier_s": "s",
    "storage.bytes_written_mb": "MB",
    "canonical.links_s": "s",
    "crawler.round_s": "s",
    "crawler.step_sum_s": "s",
    "crawler.driver_gap_s": "s",
    "crawler.jobs": "count",
    "crawler.stages": "count",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.python_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    **{
        f"{op}.{m}": unit
        for op in OP_NAMES
        for m, unit in (("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
                        ("jobs", "count"), ("stages", "count"))
    },
}

# manifest step name → per-layer metric
STEP_METRICS = {
    "articles": "storage.articles_s",
    "cache_fill": "storage.cache_fill_s",
    "crawl_logs": "storage.crawl_logs_s",
    "frontier": "storage.frontier_s",
    "seen": "seen.write_s",
    "bloom": "seen.bloom_s",
}


class Tracer:
    """In-memory spans (name, start, end, parent), written out at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def timed(self, name: str, fn, **attrs):
        with self.span(name, **attrs):
            return fn()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


class EventLog:
    """Jobs, stages and task metrics from a Spark event-log directory."""

    def __init__(self, log_dir: str):
        self.jobs: list[dict] = []  # start, end (epoch s), exec_id, stage ids
        self.stage_done: list[float] = []  # completion time of each stage run
        self.tasks: list[dict] = []  # finish time, stage, metrics
        self.plans: dict[int, str] = {}  # SQL execution id → physical plan text
        starts: dict[int, dict] = {}
        files = sorted(
            glob.glob(os.path.join(log_dir, "*", "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line), starts)

    def _event(self, ev: dict, starts: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            starts[ev["Job ID"]] = {
                "start": ev["Submission Time"] / 1000,
                "exec_id": int(exec_id) if exec_id is not None else None,
                "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
            }
        elif kind == "SparkListenerJobEnd":
            job = starts.pop(ev["Job ID"], None)
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000
                self.jobs.append(job)
        elif kind == "SparkListenerStageCompleted":
            done = ev["Stage Info"].get("Completion Time")
            if done is not None:
                self.stage_done.append(done / 1000)
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            python_ms = sum(
                int(a.get("Update") or 0)
                for a in info.get("Accumulables", [])
                if a.get("Name") == "time to run Python workers"
            )
            sw = tm.get("Shuffle Write Metrics") or {}
            self.tasks.append({
                "finish": info.get("Finish Time", 0) / 1000,
                "stage": ev["Stage ID"],
                "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                "gc_s": tm.get("JVM GC Time", 0) / 1000,
                "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / 1e6,
                "spill_mb": (tm.get("Memory Bytes Spilled", 0)
                             + tm.get("Disk Bytes Spilled", 0)) / 1e6,
                "python_s": python_ms / 1000,
            })
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")

    def jobs_in(self, start: float, end: float) -> list[dict]:
        return [j for j in self.jobs if start <= j["start"] <= end]

    def stages_in(self, start: float, end: float) -> int:
        return sum(1 for t in self.stage_done if start <= t <= end)

    def task_totals(self, start: float, end: float, stages: set | None = None) -> dict:
        out = defaultdict(float)
        for t in self.tasks:
            if start <= t["finish"] <= end and (stages is None or t["stage"] in stages):
                for k in ("cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "python_s"):
                    out[k] += t[k]
        return out

    def stages_writing(self, path_part: str) -> set:
        """Stage ids of the jobs whose SQL plan writes to ``path_part``."""
        execs = {e for e, plan in self.plans.items() if path_part in plan}
        return {s for j in self.jobs if j["exec_id"] in execs for s in j["stages"]}


def busy_seconds(jobs: list[dict], start: float, end: float) -> float:
    """Length of the union of job intervals, clipped to [start, end]."""
    total, cur_s, cur_e = 0.0, None, None
    for j in sorted(jobs, key=lambda j: j["start"]):
        s, e = max(j["start"], start), min(j["end"], end)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 1e6


def spark_totals(log: EventLog, start: float, end: float) -> dict:
    t = log.task_totals(start, end)
    return {
        "spark.task_cpu_s": t["cpu_s"],
        "spark.gc_s": t["gc_s"],
        "spark.shuffle_write_mb": t["shuffle_write_mb"],
        "spark.spill_mb": t["spill_mb"],
        "spark.python_s": t["python_s"],
    }


# ----------------------------------------------------------------------
# crawl layers


def round_rows(store, tracer: Tracer, log: EventLog) -> list[dict]:
    """Per round of the traced crawl: its wall (manifest), its step walls,
    the Spark jobs and stages it ran, the time at least one job was
    running (``busy_s``) and the rest, the driver gap."""
    rows = []
    for span in tracer.named("crawler.round"):
        man = store.manifest(span["round"])
        jobs = log.jobs_in(span["start"], span["end"])
        busy = busy_seconds(jobs, span["start"], span["end"])
        rows.append({
            "round": span["round"],
            "wall_s": man["wall_secs"],
            "span_s": span["end"] - span["start"],
            "steps": man.get("step_secs", {}),
            "step_sum_s": sum(man.get("step_secs", {}).values()),
            "jobs": len(jobs),
            "stages": log.stages_in(span["start"], span["end"]),
            "busy_s": busy,
            "driver_gap_s": (span["end"] - span["start"]) - busy,
        })
    return rows


def crawl_round_metrics(rows: list[dict], store, tracer: Tracer, log: EventLog) -> dict:
    """Round rows summed over the crawl; ``crawler.round_s`` is the mean
    round wall."""
    out = defaultdict(float)
    for row in rows:
        for step, metric in STEP_METRICS.items():
            out[metric] += row["steps"].get(step, 0.0)
        for k in ("step_sum_s", "driver_gap_s", "jobs", "stages"):
            out[f"crawler.{k}"] += row[k]
    out["crawler.round_s"] = sum(r["wall_s"] for r in rows) / max(len(rows), 1)
    out["storage.bytes_written_mb"] = dir_mb(store.root)
    unit = tracer.named("unit")[-1]
    articles = log.stages_writing("/articles/round=")
    out["extract.python_s"] = log.task_totals(unit["start"], unit["end"], articles)["python_s"]
    return dict(out)


def crawl_layer_probes(spark, crawler, tracer: Tracer) -> dict:
    """Time each layer's public function on the inputs the crawl
    committed: round r's frontier is the frontier written by round r-1
    and its seen set the seen rows of rounds before r."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from newscrawler_spark.crawler import fetch_join
    from newscrawler_spark.functions.canonical import with_canonical
    from newscrawler_spark.functions.extract import extract_batch
    from newscrawler_spark.functions.robots import robots_filter_map_in_pandas
    from newscrawler_spark.operators.politeness import (
        admit_per_host,
        global_fetch_order,
        global_fetch_order_scalable,
    )
    from newscrawler_spark.operators.seen import anti_join_seen, build_bloom

    cfg, store = crawler.config, crawler.store
    strategy = {r["host"]: r["scrape_strategy"] for r in crawler.strategy_dim.collect()}
    n = defaultdict(float)
    seq_offset = 0
    for r in range(store.last_committed_round() + 1):
        caches: list = []

        def timed_count(metric, df):
            df = df.persist()
            caches.append(df)
            with tracer.span(metric, round=r) as s:
                rows = df.count()
            n[metric] += s["end"] - s["start"]
            return df, rows

        frontier = store.read_round(spark, "frontier", r - 1)
        seen = store.read_rounds(spark, "seen", upto=r - 1)
        n_frontier = frontier.count()
        n["frontier_rows"] += n_frontier
        if seen is None:
            cand, n_cand = frontier, n_frontier
        else:
            bloom = (build_bloom(seen, "url_hash", cfg.bloom_expected, cfg.bloom_fpp)
                     if cfg.use_bloom else None)
            cand, n_cand = timed_count(
                "seen.anti_join_s", anti_join_seen(frontier, seen, "canon_url", "url_hash", bloom)
            )
        n["candidates"] += n_cand

        rules = cand.join(F.broadcast(crawler.robots_dim), on="host", how="left")
        schema = T.StructType(
            list(rules.schema.fields) + [T.StructField("allowed", T.BooleanType(), False)]
        )
        evaluated, n_eval = timed_count(
            "robots.filter_s", rules.mapInPandas(robots_filter_map_in_pandas, schema=schema)
        )
        denied = evaluated.filter(~F.col("allowed")).count()
        n["robots.denied"] += denied
        n["allowed"] += n_eval - denied

        # the crawler's per-host budget expression, replayed
        allowed = evaluated.filter(F.col("allowed")).withColumn(
            "host_budget",
            F.greatest(F.lit(1), (F.lit(cfg.round_budget) / F.greatest(
                F.coalesce("robots_delay", F.lit(1.0)), F.lit(1.0))).cast("int")),
        )
        if cfg.is_bulk_round:
            admitted = allowed.withColumn("host_rank", F.lit(None).cast("int"))
        else:
            admitted, _ = admit_per_host(allowed, "host_budget", cfg.n_salts)
        if cfg.scalable_fetch_order:
            # the scalable order runs its counting job while building
            with tracer.span("politeness.admit_s", round=r) as s:
                ordered = global_fetch_order_scalable(admitted, seq_offset, cache_registry=caches)
            n["politeness.admit_s"] += s["end"] - s["start"]
        else:
            ordered = global_fetch_order(admitted, seq_offset)
        adm, n_adm = timed_count(
            "politeness.admit_s",
            ordered.select("canon_url", "url_hash", "host", "priority",
                           "discovered_round", "fetch_seq"),
        )
        n["admitted"] += n_adm
        seq_offset += n_adm

        fetched, n_fetched = timed_count(
            "fetch.join_s", fetch_join(crawler.pages, adm, broadcast=cfg.broadcast_admitted_max > 0)
        )
        n["fetched"] += n_fetched

        pdf = fetched.select("canon_url", "html", "host").toPandas()
        with tracer.span("extract.batch_s", round=r) as s:
            ext = extract_batch(pdf["canon_url"], pdf["html"], pdf["host"].map(strategy))
        n["extract.batch_s"] += s["end"] - s["start"]
        n["extract_rows"] += len(pdf)

        links = sorted({u for ls in ext["out_links"] for u in ls[: cfg.max_links_per_page]})
        if links:
            ldf = spark.createDataFrame([(u,) for u in links], "canon_url string")
            with tracer.span("canonical.links_s", round=r) as s:
                with_canonical(ldf, "canon_url").write.format("noop").mode("overwrite").save()
            n["canonical.links_s"] += s["end"] - s["start"]
        for c in reversed(caches):
            c.unpersist()

    def ratio(a, b):
        return n[a] / n[b] if n[b] else 0.0

    return {
        "seen.anti_join_s": n["seen.anti_join_s"],
        "seen.new_ratio": ratio("candidates", "frontier_rows"),
        "robots.filter_s": n["robots.filter_s"],
        "robots.denied": n["robots.denied"],
        "politeness.admit_s": n["politeness.admit_s"],
        "politeness.admit_ratio": ratio("admitted", "allowed"),
        "fetch.join_s": n["fetch.join_s"],
        "fetch.hit_ratio": ratio("fetched", "admitted"),
        "extract.batch_s": n["extract.batch_s"],
        "extract.rows_per_s": ratio("extract_rows", "extract.batch_s"),
        "canonical.links_s": n["canonical.links_s"],
    }


# ----------------------------------------------------------------------
# operator layers


def ops_metrics(tracer: Tracer, log: EventLog) -> dict:
    """Build, plan and execution time per operator, and the Spark jobs
    and stages that ran between its build and the end of its action."""
    out = {}
    for op in OP_NAMES:
        for phase in ("build", "plan", "exec"):
            spans = tracer.named(f"{op}.{phase}")
            out[f"{op}.{phase}_s"] = sum(s["end"] - s["start"] for s in spans)
        op_spans = tracer.named(f"{op}.build") + tracer.named(f"{op}.exec")
        start = min((s["start"] for s in op_spans), default=0.0)
        end = max((s["end"] for s in op_spans), default=0.0)
        out[f"{op}.jobs"] = len(log.jobs_in(start, end))
        out[f"{op}.stages"] = log.stages_in(start, end)
    return out


def extract_pages_probe(pages_path: str, tracer: Tracer) -> dict:
    """``extract_batch`` over every corpus page in pandas — the pure
    Python cost each graph operator pays once per call."""
    import pyarrow.parquet as pq

    from newscrawler_spark.functions.extract import extract_batch

    pdf = pq.read_table(pages_path, columns=["url", "html"]).to_pandas()
    with tracer.span("extract.batch_s") as s:
        extract_batch(pdf["url"], pdf["html"])
    secs = s["end"] - s["start"]
    return {"extract.batch_s": secs, "extract.rows_per_s": len(pdf) / secs}


def write_trace(path: str, tracer: Tracer, layers: dict, extra: dict) -> None:
    """Spans and the per-layer table, for diffing one layer between two
    commits: ``<path>`` (JSON) and the same path with ``.tsv``."""
    with open(path, "w") as f:
        json.dump({**extra, "layers": layers, "spans": tracer.spans}, f, indent=1)
    with open(path[: -len(".json")] + ".tsv", "w") as f:
        f.write("metric\tvalue\tunit\n")
        for name, unit in PER_LAYER.items():
            f.write(f"{name}\t{layers.get(name, 0.0)}\t{unit}\n")
