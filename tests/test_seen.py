"""Seen-set operator: bloom prefilter must be a pure optimization —
bloom-on results ≡ bloom-off results (SURVEY §4: bloom only shrinks the
anti-join input; the anti-join is the truth)."""

from __future__ import annotations

import numpy as np
import pytest

from newscrawler_spark.operators.seen import NumpyBloom, anti_join_seen, build_bloom


def test_bloom_no_false_negatives():
    rng = np.random.default_rng(42)
    added = rng.integers(0, 1 << 60, size=5000, dtype=np.int64)
    other = rng.integers(0, 1 << 60, size=5000, dtype=np.int64)
    bloom = NumpyBloom(expected=5000, fpp=1e-3)
    bloom.add(added)
    assert bloom.might_contain(added).all()
    fp = bloom.might_contain(np.setdiff1d(other, added)).mean()
    assert fp < 0.01  # fpp 1e-3 with slack


def test_bloom_union_and_state_roundtrip():
    a = NumpyBloom(expected=100, fpp=1e-3)
    b = NumpyBloom(expected=100, fpp=1e-3)
    xs = np.arange(50, dtype=np.int64)
    ys = np.arange(50, 100, dtype=np.int64)
    a.add(xs)
    b.add(ys)
    a.union(b)
    assert a.might_contain(np.arange(100, dtype=np.int64)).all()
    c = NumpyBloom.from_state(a.words.copy(), a.m, a.k)
    assert c.might_contain(xs).all()


@pytest.fixture(scope="module")
def frontier_and_seen(spark):
    from pyspark.sql import functions as F

    base = spark.range(0, 2000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 7), F.lit(".com/p"), F.col("id"))
        .alias("canon_url"),
        F.col("id").alias("url_hash"),
        F.lit(1).alias("priority"),
    )
    seen = base.filter(F.col("url_hash") % 3 == 0).select("url_hash", "canon_url")
    return base, seen


def test_anti_join_bloom_equivalence(spark, frontier_and_seen):
    frontier, seen = frontier_and_seen
    bloom = build_bloom(seen, "url_hash", expected=1000, fpp=1e-3)
    with_bloom = anti_join_seen(frontier, seen, bloom=bloom)
    without = anti_join_seen(frontier, seen, bloom=None)
    a = {r["url_hash"] for r in with_bloom.collect()}
    b = {r["url_hash"] for r in without.collect()}
    assert a == b
    assert len(a) == frontier.count() - seen.count()


def test_crawler_bloom_modes_identical_crawl(spark, tmp_path):
    """The bloom is pure optimization: a crawl without it, with the
    default bloom (almost every row definitely new), and with a tiny one
    (expected=16: a 256-bit set whose 60 seen keys set 228 bits, so about
    half of the last round's frontier is a "maybe" and takes the exact
    join) all produce the identical seen set and fetch order."""
    from newscrawler_spark.crawler import CrawlConfig, FrontierCrawler
    from newscrawler_spark.plans.storage import RoundStore
    from newscrawler_spark.sources.corpus import generate_corpus

    paths = generate_corpus(str(tmp_path / "c"), n_pages=300, n_hosts=6, seed=42)

    def crawl(tag, **kw):
        store = RoundStore(str(tmp_path / tag))
        cfg = CrawlConfig(max_rounds=3, round_budget=8, n_salts=4, **kw)
        FrontierCrawler(spark, paths["pages"], paths["seeds"], store, cfg).run(resume=False)
        seen = store.read_rounds(spark, "seen")
        return sorted(
            (r["url_hash"], r["canon_url"], r["fetch_seq"], r["status"])
            for r in seen.collect()
        )

    exact = crawl("exact", use_bloom=False)
    assert crawl("bloom") == exact
    assert crawl("tiny", bloom_expected=16) == exact


def test_hash_collision_does_not_drop_urls(spark):
    """Two distinct URLs with the same url_hash: only the truly-seen one
    is filtered (the join keys on (hash, url), not hash alone)."""
    frontier = spark.createDataFrame(
        [("https://a.com/x", 7), ("https://b.com/y", 7)],
        "canon_url string, url_hash long",
    )
    seen = spark.createDataFrame(
        [("https://a.com/x", 7)], "canon_url string, url_hash long"
    )
    bloom = build_bloom(seen, "url_hash", expected=16)
    out = [r["canon_url"] for r in anti_join_seen(frontier, seen, bloom=bloom).collect()]
    assert out == ["https://b.com/y"]
