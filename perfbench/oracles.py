"""Expected outputs for the output checks, computed by the repo's
independent oracles and cached on disk per (workload, seed, inputs).

* crawls: ``newscrawler_spark.oracle.crawl_oracle`` — the sequential
  pure-Python replay of the round spec;
* operators: the DuckDB twins in ``newscrawler_spark.oracle_sql``,
  ``operators.cluster.kmeans_sql`` and the MMR gate SQL.

Only digests are kept: a check compares the engine's digest with the
oracle's, so the cache stays a few hundred bytes per seed.
"""

from __future__ import annotations

import hashlib
import json
import os


def digest(rows) -> str:
    """Order-free sha256 of a row collection (rows are sorted first)."""
    norm = sorted(json.dumps([_plain(v) for v in r]) for r in rows)
    return hashlib.sha256("\n".join(norm).encode()).hexdigest()


def _plain(v):
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "item"):  # numpy scalar
        return _plain(v.item())
    return v


def cached(cache_dir: str, key: dict, compute) -> dict:
    """Return ``compute()`` for ``key``, computing it once per key."""
    name = hashlib.sha256(json.dumps(key, sort_keys=True).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{name}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def crawl_digests(order, seen) -> dict:
    """``order``: (url, fetch_seq) pairs; ``seen``: (url, status) pairs."""
    return {
        "order": digest(order),
        "seen": digest(seen),
        "n_order": len(order),
        "n_seen": len(seen),
    }


def crawl_expected(pages_path: str, seeds_path: str, config) -> dict:
    from newscrawler_spark.oracle import crawl_oracle

    out = crawl_oracle(pages_path, seeds_path, config)
    return crawl_digests(out["order"], list(out["seen"].items()))


def bulk_expected(pages_path: str, seeds_path: str, config, work_dir: str) -> dict:
    """The bulk round seeds every page URL at the default priority.  The
    crawl oracle seeds from a seeds table, so replay it over a seeds
    table holding one active row per page URL plus the real seed rows,
    deactivated, which keep the per-host scraper strategy."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    seeds = pq.read_table(seeds_path).to_pylist()
    urls = pq.read_table(pages_path, columns=["url"]).column("url").to_pylist()
    rows = [{**s, "active": False} for s in seeds]
    # an empty domain matches no host, so these rows add no strategy
    rows += [
        {
            "domain": "",
            "base_url": u,
            "scraper_type": "~",
            "active": True,
            "priority": config.default_priority,
        }
        for u in urls
    ]
    cols = ["domain", "base_url", "scraper_type", "active", "priority"]
    path = os.path.join(work_dir, "bulk_oracle_seeds.parquet")
    pq.write_table(pa.table({c: [r[c] for r in rows] for c in cols}), path)
    return crawl_expected(pages_path, path, config)


def ops_expected(pages_path: str, seeds_path: str, emb_path: str, ops) -> dict:
    """DuckDB oracle digest per operator; ``ops`` maps name → SQL text
    (the operator SQL reads the ``embeddings`` view)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{emb_path}')")
        out = {}
        for name, sql in ops.items():
            rows = con.execute(sql).fetchall()
            out[name] = {"digest": digest(rows), "rows": len(rows)}
        return out
    finally:
        con.close()
