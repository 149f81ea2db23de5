"""The benchmark workloads: inputs made from the seed, one unit of work
each, and the output check of a unit.

A workload is a closed loop: the driver submits one crawl (or one pass
over the operators), waits for it, checks nothing yet, and submits the
next.  Checks run after the timed window, against oracle digests that
were computed before it.

* ``crawl_rounds``: ``FrontierCrawler.run`` for 4 politeness-bounded
  rounds, bloom on, 8 salts.
* ``crawl_bulk``: the whole URL universe seeded into one bulk round
  (no per-host windows, no pages cache, range-partitioned fetch order).
* ``ops_iterative``: the driver-iterated analytics — five graph
  operators over the pages, k-means and MMR over an embedding table.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import oracles

# Corpus shapes.  The crawl corpus keeps the article-sized pages of the
# repo's original crawl bench (12-22 paragraphs, Zipf-skewed hosts) at a
# page count that lets one crawl finish in tens of seconds at local[2].
CRAWL_PAGES, CRAWL_HOSTS = 2000, 20
OPS_PAGES, OPS_HOSTS = 1000, 16
EMB_ROWS, EMB_DIM = 200, 32


def crawl_config(bulk: bool):
    from newscrawler_spark.crawler import CrawlConfig

    if bulk:
        return CrawlConfig(
            max_rounds=1,
            round_budget=1_000_000_000,
            bloom_expected=1_000_000,
            cache_pages=False,
            repartition_fetched=False,
            broadcast_admitted_max=0,
            scalable_fetch_order=True,
        )
    return CrawlConfig(max_rounds=4, round_budget=15, n_salts=8, bloom_expected=1_000_000)


@dataclasses.dataclass
class Unit:
    """One submitted crawl or operator pass."""

    wall: float
    urls: int  # URLs fetched and extracted
    attempted: int
    failed: int = 0
    problems: list = dataclasses.field(default_factory=list)
    state: object = None  # what the check reads (a store, or op results)


class CrawlWorkload:
    def __init__(self, spark, work_dir: str, seed: int, bulk: bool,
                 n_pages: int = CRAWL_PAGES, n_hosts: int = CRAWL_HOSTS):
        self.spark, self.work, self.seed = spark, work_dir, seed
        self.bulk = bulk
        self.name = "crawl_bulk" if bulk else "crawl_rounds"
        self.config = crawl_config(bulk)
        self.corpus_args = dict(n_pages=n_pages, n_hosts=n_hosts, seed=seed, paras_range=(12, 22))
        self.paths: dict = {}
        self._n_units = 0

    # -- inputs and oracle ---------------------------------------------
    def make_inputs(self, tag: str = "corpus") -> dict:
        from newscrawler_spark.sources.corpus import generate_corpus

        out = os.path.join(self.work, tag)
        shutil.rmtree(out, ignore_errors=True)
        self.paths = generate_corpus(out, **self.corpus_args)
        return self.paths

    def oracle_key(self) -> dict:
        from newscrawler_spark.sources.corpus import CORPUS_VERSION

        return {"workload": self.name, "corpus": self.corpus_args,
                "corpus_version": CORPUS_VERSION, "config": repr(self.config)}

    def expected(self) -> dict:
        p = self.paths
        if self.bulk:
            return oracles.bulk_expected(p["pages"], p["seeds"], self.config, self.work)
        return oracles.crawl_expected(p["pages"], p["seeds"], self.config)

    # -- work ----------------------------------------------------------
    def run_unit(self, on_crawler=None) -> Unit:
        self._n_units += 1
        store_dir = os.path.join(self.work, f"store_{self._n_units}")
        t0 = time.perf_counter()
        crawler, totals = self._crawl(store_dir, on_crawler)
        return Unit(wall=time.perf_counter() - t0, urls=totals["fetched"], attempted=1,
                    state=crawler)

    def _crawl(self, store_dir: str, on_crawler=None):
        from newscrawler_spark.crawler import FrontierCrawler
        from newscrawler_spark.plans.storage import RoundStore

        shutil.rmtree(store_dir, ignore_errors=True)
        p = self.paths
        crawler = FrontierCrawler(self.spark, p["pages"], p["seeds"], RoundStore(store_dir),
                                  self.config)
        if on_crawler is not None:
            on_crawler(crawler)
        if self.bulk:
            crawler.initialize(url_df=self.spark.read.parquet(p["pages"]).select("url"))
            totals = crawler.run(resume=True)
        else:
            totals = crawler.run(resume=False)
        return crawler, totals

    # -- output check --------------------------------------------------
    def check(self, unit: Unit, expected: dict) -> None:
        """Crawl order and seen set against the oracle digests, and every
        article's text against the corpus ground truth."""
        store = unit.state.store
        seen = read_rounds(store, "seen", ["canon_url", "status", "fetch_seq"])
        order = [(u, s) for u, s in zip(seen["canon_url"], seen["fetch_seq"]) if s is not None]
        got = oracles.crawl_digests(order, list(zip(seen["canon_url"], seen["status"])))
        for k in ("order", "seen"):
            if got[k] != expected[k]:
                unit.problems.append(
                    f"{k} digest differs from the oracle "
                    f"({got['n_' + k]} rows vs {expected['n_' + k]})"
                )
        arts = read_rounds(store, "articles", ["url", "text"])
        truth = self._page_text()
        bad = [u for u, t in zip(arts["url"], arts["text"]) if truth.get(u) != t]
        if bad:
            unit.problems.append(f"{len(bad)} article texts differ from pages.text, e.g. {bad[0]}")
        n_fetched = sum(1 for s in seen["status"] if s == "fetched")
        if len(arts["url"]) != n_fetched:
            unit.problems.append(f"{len(arts['url'])} articles for {n_fetched} fetched URLs")
        unit.failed = int(bool(unit.problems))

    def _page_text(self) -> dict:
        from newscrawler_spark.functions.canonical import canonicalize_url

        if not hasattr(self, "_truth"):
            t = pq.read_table(self.paths["pages"], columns=["url", "text"]).to_pydict()
            self._truth = {canonicalize_url(u): x for u, x in zip(t["url"], t["text"])}
        return self._truth

    def release(self, unit: Unit) -> None:
        shutil.rmtree(unit.state.store.root, ignore_errors=True)


def read_rounds(store, table: str, columns: list[str]) -> dict:
    """Committed rounds of one store table, read with pyarrow."""
    parts = []
    for r in range(store.last_committed_round() + 1):
        path = os.path.join(store.root, table, f"round={r}")
        if os.path.isdir(path):
            parts.append(pq.read_table(path, columns=columns))
    if not parts:
        return {c: [] for c in columns}
    return pa.concat_tables(parts).to_pydict()


# ----------------------------------------------------------------------
# ops_iterative


def write_embeddings(path: str, seed: int, n: int = EMB_ROWS, dim: int = EMB_DIM) -> str:
    """Clustered float32 vectors with the gate ``embeddings`` schema."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 0.3, size=(8, dim))
    label = rng.integers(0, 8, size=n)
    vecs = (centers[label] + rng.normal(0.0, 0.1, size=(n, dim))).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }),
        path,
    )
    return path


#: Iteration counts of the measured pass, shared by the engine and its
#: oracle.  Half the gate's unrolls, which keeps the per-iteration jobs
#: the pass is about while one pass fits the run; k-core keeps its six
#: peels, which its convergence check needs, and MMR the gate's k.
OP_ITERATIONS = {"hits": 2, "lpa": 2, "seed_hops": 2, "pagerank": 2, "kmeans": 2}


def _op_builders():
    """Operator name → builder, at :data:`OP_ITERATIONS`."""
    from newscrawler_spark.operators import graph
    from newscrawler_spark.operators.cluster import kmeans_lloyd
    from newscrawler_spark.operators.rag import mmr_diversify

    it = OP_ITERATIONS
    return {
        "graph.hits": lambda d: graph.host_hits(d["pages"], iterations=it["hits"]),
        "graph.lpa": lambda d: graph.host_label_propagation(d["pages"], iterations=it["lpa"]),
        "graph.kcore": lambda d: graph.page_kcore(d["pages"], k=4, iterations=6),
        "graph.seed_depth": lambda d: graph.host_seed_depth(d["pages"], d["seeds"],
                                                            hops=it["seed_hops"]),
        "graph.pagerank": lambda d: graph.host_pagerank(d["pages"], iterations=it["pagerank"]),
        "cluster.kmeans": lambda d: kmeans_lloyd(d["embeddings"], iterations=it["kmeans"]),
        "rag.mmr": lambda d: mmr_diversify(d["embeddings"]),
    }


#: the graph operators each run the extractor once over every page
GRAPH_OPS = ("graph.hits", "graph.lpa", "graph.kcore", "graph.seed_depth", "graph.pagerank")


def ops_sql(paths: dict) -> dict:
    """The DuckDB twin of every operator, with the same parameters."""
    from newscrawler_spark import oracle_sql as osql
    from newscrawler_spark.operators.cluster import kmeans_sql

    import __spark_entry__

    p, s, it = paths["pages"], paths["seeds"], OP_ITERATIONS
    return {
        "graph.hits": osql.host_hits_sql(p, iterations=it["hits"]),
        "graph.lpa": osql.host_lpa_sql(p, iterations=it["lpa"]),
        "graph.kcore": osql.page_kcore_sql(p, k=4, iterations=6),
        "graph.seed_depth": osql.host_seed_depth_sql(p, s, hops=it["seed_hops"]),
        "graph.pagerank": osql.host_pagerank_sql(p, iterations=it["pagerank"]),
        "cluster.kmeans": kmeans_sql(iterations=it["kmeans"]),
        "rag.mmr": __spark_entry__.SQL_RAG_MMR,
    }


class OpsWorkload:
    name = "ops_iterative"

    def __init__(self, spark, work_dir: str, seed: int,
                 n_pages: int = OPS_PAGES, n_hosts: int = OPS_HOSTS, n_vectors: int = EMB_ROWS):
        self.spark, self.work, self.seed = spark, work_dir, seed
        self.corpus_args = dict(n_pages=n_pages, n_hosts=n_hosts, seed=seed)
        self.n_vectors = n_vectors
        self.paths: dict = {}
        self.builders = _op_builders()

    def make_inputs(self, tag: str = "corpus") -> dict:
        from newscrawler_spark.sources.corpus import generate_corpus

        out = os.path.join(self.work, tag)
        shutil.rmtree(out, ignore_errors=True)
        self.paths = dict(generate_corpus(out, **self.corpus_args))
        self.paths["embeddings"] = write_embeddings(
            os.path.join(out, "embeddings.parquet"), self.seed, self.n_vectors
        )
        return self.paths

    def oracle_key(self) -> dict:
        from newscrawler_spark.sources.corpus import CORPUS_VERSION

        return {"workload": self.name, "corpus": self.corpus_args, "vectors": self.n_vectors,
                "emb_dim": EMB_DIM, "iterations": OP_ITERATIONS, "corpus_version": CORPUS_VERSION}

    def expected(self) -> dict:
        p = self.paths
        return oracles.ops_expected(p["pages"], p["seeds"], p["embeddings"], ops_sql(p))

    def _frames(self) -> dict:
        return {k: self.spark.read.parquet(self.paths[k]) for k in ("pages", "seeds", "embeddings")}

    def run_unit(self, on_op=None) -> Unit:
        """One pass over every operator; each result is collected (the
        results are host- or vector-sized), which both materializes it
        and keeps the rows for the check.  ``on_op(name, phase, fn)``
        lets the traced run time build, plan and execution apart."""
        results, failed, problems = {}, 0, []
        t0 = time.perf_counter()
        frames = self._frames()
        for name, build in self.builders.items():
            try:
                if on_op is None:
                    results[name] = build(frames).collect()
                else:
                    df = on_op(name, "build", lambda: build(frames))
                    on_op(name, "plan", lambda: df._jdf.queryExecution().executedPlan())
                    results[name] = on_op(name, "exec", df.collect)
            except Exception as e:  # an operator that raises counts as failed
                failed += 1
                problems.append(f"{name} raised {type(e).__name__}: {str(e)[:200]}")
        wall = time.perf_counter() - t0
        n_pages = self.corpus_args["n_pages"]
        return Unit(wall=wall, urls=len(GRAPH_OPS) * n_pages, attempted=len(self.builders),
                    failed=failed, problems=problems, state=results)

    def check(self, unit: Unit, expected: dict) -> None:
        for name, rows in unit.state.items():
            want = expected[name]
            if oracles.digest(rows) != want["digest"]:
                unit.failed += 1
                unit.problems.append(
                    f"{name} differs from its DuckDB oracle ({len(rows)} rows vs {want['rows']})"
                )

    def release(self, unit: Unit) -> None:
        unit.state = None


WORKLOADS = ("crawl_rounds", "crawl_bulk", "ops_iterative")


def make_workload(name: str, spark, work_dir: str, seed: int, **sizes):
    if name == "ops_iterative":
        return OpsWorkload(spark, work_dir, seed, **sizes)
    return CrawlWorkload(spark, work_dir, seed, bulk=name == "crawl_bulk", **sizes)
