"""Plan shape and cache release of the driver-unrolled operators
(operators/graph.py, operators/rag.py).

Each unrolled step must read the previous step's relation exactly once,
so the optimized plan grows linearly with the unroll depth; a step that
reads it twice doubles the plan per step (MMR read it three times:
its plan grew by 2,324 lines from k=2 to k=4 and by 20,916 from k=4 to
k=6).  Building the frame runs no Spark job.  Every frame an operator
persists is handed to its ``cache_registry``, and each gate query
releases the frames its previous call persisted."""

from __future__ import annotations

import random

import pytest

from newscrawler_spark.operators import graph
from newscrawler_spark.operators.rag import mmr_diversify
from newscrawler_spark.sources.corpus import generate_corpus


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    paths = generate_corpus(
        str(tmp_path_factory.mktemp("iterplans") / "c"), n_pages=120, n_hosts=6, seed=3
    )
    return spark.read.parquet(paths["pages"]), spark.read.parquet(paths["seeds"])


@pytest.fixture(scope="module")
def vectors(spark):
    rnd = random.Random(1)
    return spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )


@pytest.fixture(scope="module")
def path_graph(spark):
    chain = [(f"v{i}", f"v{i + 1}") for i in range(19)]
    return spark.createDataFrame(chain + [(b, a) for a, b in chain], "a string, b string")


def _build(spark, fn):
    """(optimized-plan line count, Spark jobs run) of building ``fn()``."""
    sc = spark.sparkContext
    group = f"iterplans-{random.getrandbits(32)}"
    sc.setJobGroup(group, "build only")
    try:
        df = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    lines = len(df._jdf.queryExecution().optimizedPlan().treeString().splitlines())
    return lines, len(sc.statusTracker().getJobIdsForGroup(group))


_OPS = {
    "mmr": lambda c, v, g, d: mmr_diversify(v, k=d),
    "lpa": lambda c, v, g, d: graph.host_label_propagation(c[0], iterations=d),
    "seed_depth": lambda c, v, g, d: graph.host_seed_depth(c[0], c[1], hops=d),
    "kcore": lambda c, v, g, d: graph.kcore_from_edges(
        g, k=2, iterations=d, verify_convergence=False
    ),
}


@pytest.mark.parametrize("op", sorted(_OPS))
def test_unrolled_plan_grows_linearly(spark, corpus, vectors, path_graph, op):
    sizes = {}
    for depth in (2, 4, 6):
        lines, jobs = _build(spark, lambda: _OPS[op](corpus, vectors, path_graph, depth))
        assert jobs == 0, (op, depth, jobs)
        sizes[depth] = lines
    assert sizes[6] - sizes[4] <= 1.25 * (sizes[4] - sizes[2]), sizes


@pytest.mark.parametrize("depth", [2, 6])
def test_kcore_witness_is_the_only_eager_job(spark, path_graph, depth):
    """verify_convergence runs one action while building, at any depth
    (no eager peel per round).  AQE submits every query stage as its
    own job, so it is off here: one action is then one job."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _, jobs = _build(
            spark, lambda: graph.kcore_from_edges(path_graph, k=1, iterations=depth)
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert jobs == 1, jobs


def _persistent_rdds(spark) -> set:
    """Ids of the persisted RDDs.  Compared as sets, not counted: the
    JVM drops other tests' unreferenced persisted RDDs at any GC."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize(
    "op, n_cached",
    [
        ("mmr", 2),
        ("lpa", 1),
        ("seed_depth", 1),
        ("hits", 1),
        ("pagerank", 2),
        ("kcore", 1),
    ],
)
def test_cache_registry_releases_every_persist(spark, tmp_path, vectors, op, n_cached):
    paths = generate_corpus(str(tmp_path / "c"), n_pages=120, n_hosts=6, seed=7)
    pages = spark.read.parquet(paths["pages"])
    seeds = spark.read.parquet(paths["seeds"])
    build = {
        "mmr": lambda reg: mmr_diversify(vectors, k=3, cache_registry=reg),
        "lpa": lambda reg: graph.host_label_propagation(pages, iterations=2, cache_registry=reg),
        "seed_depth": lambda reg: graph.host_seed_depth(pages, seeds, hops=2, cache_registry=reg),
        "hits": lambda reg: graph.host_hits(pages, iterations=2, cache_registry=reg),
        "pagerank": lambda reg: graph.host_pagerank(pages, iterations=2, cache_registry=reg),
        "kcore": lambda reg: graph.page_kcore(pages, k=2, iterations=8, cache_registry=reg),
    }[op]
    before = _persistent_rdds(spark)
    registry: list = []
    build(registry).collect()
    assert len(registry) == n_cached
    added = _persistent_rdds(spark) - before
    assert added
    for df in registry:
        df.unpersist(blocking=True)
    assert not added & _persistent_rdds(spark)


@pytest.mark.parametrize(
    "query",
    [
        "graph_hits",
        "graph_kcore",
        "graph_lpa",
        "graph_pagerank_hosts",
        "graph_seed_depth",
        "rag_mmr",
    ],
)
def test_gate_query_registers_its_caches(spark, sf_dir, query):
    """The gate builder passes its operator a registry that the next
    call of the same query releases (_fresh_cache_registry), so a
    bench or gate loop holds one cached copy, not one per call."""
    import __spark_entry__ as entrymod

    build = entrymod.queries()[query]
    build(spark, sf_dir).collect()  # the gate crawl, and any earlier call's caches
    entrymod._fresh_cache_registry(query)
    before = _persistent_rdds(spark)
    build(spark, sf_dir).collect()
    added = _persistent_rdds(spark) - before
    assert added
    entrymod._fresh_cache_registry(query)
    assert not added & _persistent_rdds(spark)
