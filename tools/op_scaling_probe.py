"""Per-operator data-scaling probe: same resources, input doubled.

BENCH/data_scaling.json evidences input-linearity for the CRAWL; this
probe covers the four most expensive operator queries of BENCH_r03
(dedup_winnow_pairs, cluster_kmeans, graph_hits, dedup_clusters) — the
100×-readiness evidence the per-round bench number alone doesn't give:
on fixed local resources, wall time at 2× input must stay ≤ ~2.2× the
1× wall (mild superlinearity allowance for shuffle fan-in and pair
density; a blowup names a structure whose cost grows faster than the
data).

The 2× corpora are honest, not duplicated: the doubled documents copy
carries REVERSED token streams (different k-grams, different simhash —
a duplicated copy would quadruple winnow pair density by construction
and probe the data shape, not the operator).  Embeddings duplicate
with shifted ids (Lloyd cost is scan×iterations; duplicate points keep
centroid trajectories identical).  graph_hits doubles the page count
of a generated corpus at fixed host count.

Legs are interleaved (1x, 2x, 1x, 2x, ...) so both sizes share the
host's timing window; best-of per size.  Writes BENCH/op_scaling.json.

Usage: python tools/op_scaling_probe.py [--repeats 2] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = os.path.join(REPO, ".bench", "op_scaling")


def _build_inputs() -> dict:
    """1x/2x documents + embeddings parquet dirs (idempotent)."""
    os.makedirs(WORK, exist_ok=True)
    # v3: adds the jaccard disjoint-vocab 2x copy (bump invalidates stale builds)
    marker = os.path.join(WORK, f".inputs3_{os.path.basename(SF_DIR.rstrip('/'))}")
    out = {
        "docs_1x": os.path.join(SF_DIR, "documents.parquet"),
        "docs_2x": os.path.join(WORK, "documents_2x.parquet"),
        "docs_2j": os.path.join(WORK, "documents_2j.parquet"),
        "emb_1x": os.path.join(SF_DIR, "embeddings.parquet"),
        "emb_2x": os.path.join(WORK, "embeddings_2x.parquet"),
        "ev_stage_1x": os.path.join(WORK, "events_stage_1x"),
        "ev_stage_2x": os.path.join(WORK, "events_stage_2x"),
    }
    if os.path.exists(marker):
        return out
    con = duckdb.connect()
    # streaming stages: the 2x copy shifts BOTH event_id and user_id past
    # the 1x maxima so the copy attribution-joins only within itself —
    # duplicating the same users would quadruple join pairs inside the
    # 1-hour window and probe pair density, not the operator
    ev_1x = os.path.join(SF_DIR, "events.parquet")
    os.makedirs(out["ev_stage_1x"], exist_ok=True)
    os.makedirs(out["ev_stage_2x"], exist_ok=True)
    con.sql(
        f"COPY (SELECT * FROM '{ev_1x}') TO "
        f"'{os.path.join(out['ev_stage_1x'], 'events.parquet')}' (FORMAT PARQUET)"
    )
    con.sql(
        f"""
        COPY (
          SELECT * FROM '{ev_1x}'
          UNION ALL
          SELECT event_id + (SELECT max(event_id) + 1 FROM '{ev_1x}') AS event_id,
                 ts,
                 user_id + (SELECT max(user_id) + 1 FROM '{ev_1x}') AS user_id,
                 event_type, value, props
          FROM '{ev_1x}'
        ) TO '{os.path.join(out["ev_stage_2x"], "events.parquet")}' (FORMAT PARQUET)
        """
    )
    con.sql(
        f"""
        COPY (
          SELECT * FROM '{out["docs_1x"]}'
          UNION ALL
          SELECT doc_id + (SELECT max(doc_id) + 1 FROM '{out["docs_1x"]}') AS doc_id,
                 array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text,
                 lang, source, n_chars
          FROM '{out["docs_1x"]}'
        ) TO '{out["docs_2x"]}' (FORMAT PARQUET)
        """
    )
    # jaccard-specific 2x: the copy's tokens get a 'q' prefix, so its
    # shingle vocabulary is DISJOINT from the original's.  Reversed
    # copies are honest for winnow (k-gram char fingerprints) but NOT
    # for word-trigram jaccard over this corpus's tiny ~31-word
    # vocabulary: reversed trigrams re-enter the same shingle types,
    # doubling every shingle's df and quadrupling co-shingled pairs
    # (measured 3.99× pairs for 2× docs) — that probes the corpus's
    # pair density, not the operator.  Disjoint vocab keeps per-copy
    # shingle structure identical → intrinsic pair work scales 2×.
    con.sql(
        f"""
        COPY (
          SELECT * FROM '{out["docs_1x"]}'
          UNION ALL
          SELECT doc_id + (SELECT max(doc_id) + 1 FROM '{out["docs_1x"]}') AS doc_id,
                 regexp_replace(text, '([^ ]+)', 'q\\1', 'g') AS text,
                 lang, source, n_chars
          FROM '{out["docs_1x"]}'
        ) TO '{out["docs_2j"]}' (FORMAT PARQUET)
        """
    )
    con.sql(
        f"""
        COPY (
          SELECT * FROM '{out["emb_1x"]}'
          UNION ALL
          SELECT vec_id + (SELECT max(vec_id) + 1 FROM '{out["emb_1x"]}') AS vec_id,
                 embedding, label
          FROM '{out["emb_1x"]}'
        ) TO '{out["emb_2x"]}' (FORMAT PARQUET)
        """
    )
    with open(marker, "w") as f:
        f.write("ok")
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument(
        "--ops", nargs="*", default=None,
        help="probe only these ops; results MERGE into the existing json",
    )
    args = ap.parse_args()

    inputs = _build_inputs()

    from newscrawler_spark.session import get_spark
    from newscrawler_spark.sources.corpus import generate_corpus

    corpus_1x = generate_corpus(os.path.join(WORK, "corpus_30k"), n_pages=30000, n_hosts=80, seed=42)
    corpus_2x = generate_corpus(os.path.join(WORK, "corpus_60k"), n_pages=60000, n_hosts=80, seed=42)

    spark = get_spark("op_scaling", master=f"local[{args.cpus}]", shuffle_partitions=args.cpus)

    def docs(p):
        return spark.read.parquet(p)

    from newscrawler_spark.operators.cluster import kmeans_lloyd
    from newscrawler_spark.operators.dedup import (
        jaccard_candidates,
        simhash_near_dups,
        winnow_pairs,
    )
    from newscrawler_spark.operators.graph import connected_components, host_hits, page_kcore
    from newscrawler_spark.operators.rag import mmr_diversify
    from newscrawler_spark.streaming.rounds import attribution_join_stream, run_append_to_memory

    def _clusters(docs_df):
        pairs = simhash_near_dups(docs_df, max_hamming=1)
        from pyspark.sql import functions as F

        return connected_components(pairs, nodes=docs_df.select(F.col("doc_id").alias("id")))

    _EV_SCHEMA = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    _stream_n = [0]

    def _stream_join(stage_dir):
        # each run needs a fresh memory-sink name (re-registering an
        # existing queryName errors); the counter keeps them unique
        _stream_n[0] += 1
        return run_append_to_memory(
            attribution_join_stream(spark, stage_dir, _EV_SCHEMA),
            f"opscale_attrib_{_stream_n[0]}",
        )

    # frames HITS and MMR persist, released after each leg so
    # a repeat neither reuses the previous leg's cache nor leaks it
    caches: list = []
    OPS = {
        "dedup_winnow_pairs": (
            lambda: winnow_pairs(docs(inputs["docs_1x"])),
            lambda: winnow_pairs(docs(inputs["docs_2x"])),
        ),
        "cluster_kmeans": (
            lambda: kmeans_lloyd(docs(inputs["emb_1x"])),
            lambda: kmeans_lloyd(docs(inputs["emb_2x"])),
        ),
        "dedup_clusters": (
            lambda: _clusters(docs(inputs["docs_1x"])),
            lambda: _clusters(docs(inputs["docs_2x"])),
        ),
        "graph_hits": (
            lambda: host_hits(spark.read.parquet(corpus_1x["pages"]), cache_registry=caches),
            lambda: host_hits(spark.read.parquet(corpus_2x["pages"]), cache_registry=caches),
        ),
        # docs_2j (disjoint copy vocab), max_df=100 — the gate's capped
        # candidate path; see _build_inputs for why reversed copies
        # over-probe this op
        "dedup_ngram_jaccard": (
            lambda: jaccard_candidates(
                docs(inputs["docs_1x"]), n=3, threshold=0.5, max_df=100
            ),
            lambda: jaccard_candidates(
                docs(inputs["docs_2j"]), n=3, threshold=0.5, max_df=100
            ),
        ),
        "rag_mmr": (
            lambda: mmr_diversify(docs(inputs["emb_1x"]), cache_registry=caches),
            lambda: mmr_diversify(docs(inputs["emb_2x"]), cache_registry=caches),
        ),
        # fixed-unroll cost probe: rounds × edge-scan is the quantity
        # under test, so the convergence witness (an extra peel whose
        # depth is graph-dependent) stays off for apples-to-apples walls
        "graph_kcore": (
            lambda: page_kcore(
                spark.read.parquet(corpus_1x["pages"]), verify_convergence=False
            ),
            lambda: page_kcore(
                spark.read.parquet(corpus_2x["pages"]), verify_convergence=False
            ),
        ),
        "streaming_join": (
            lambda: _stream_join(inputs["ev_stage_1x"]),
            lambda: _stream_join(inputs["ev_stage_2x"]),
        ),
    }

    def run(thunk) -> float:
        t0 = time.time()
        thunk().write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        for df in caches:
            df.unpersist()
        caches.clear()
        return wall

    results = {}
    path = os.path.join(REPO, "BENCH", "op_scaling.json")
    if args.ops:
        unknown = set(args.ops) - set(OPS)
        if unknown:
            sys.exit(f"unknown ops: {sorted(unknown)}")
        OPS = {k: v for k, v in OPS.items() if k in args.ops}
        if os.path.exists(path):
            with open(path) as f:
                for k, v in json.load(f).get("ops", {}).items():
                    # carried entries keep their measurement but are
                    # tagged: this VM's absolute speed drifts ~1.4×
                    # between epochs (CLAUDE.md), so a merged file must
                    # not present stale ratios as this run's window
                    results[k] = {**v, "carried_from_previous_run": True}
    for name, (f1, f2) in OPS.items():
        # unbilled warmup of both inputs (page cache + codegen)
        run(f1), run(f2)
        w1, w2 = [], []
        for _ in range(args.repeats):
            w1.append(run(f1))
            w2.append(run(f2))
        b1, b2 = min(w1), min(w2)
        results[name] = {
            "wall_1x": round(b1, 3),
            "wall_2x": round(b2, 3),
            "ratio_2x": round(b2 / b1, 3),
            "runs_1x": [round(x, 3) for x in w1],
            "runs_2x": [round(x, 3) for x in w2],
        }
        print(f"{name}: 1x {b1:.2f}s  2x {b2:.2f}s  ratio {b2/b1:.2f}", flush=True)

    out = {
        "cpus": args.cpus,
        "sf_dir": SF_DIR,
        "criterion": "ratio_2x <= ~2.2 (input-linear on fixed resources)",
        "ops": results,
    }
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v["ratio_2x"] for k, v in results.items()}))


if __name__ == "__main__":
    main()
