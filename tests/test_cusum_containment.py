"""CUSUM changepoints (recursion ≡ closed form, alarm on a planted
shift) and n-gram containment (sub-document copy detection jaccard
misses; capped ≡ uncapped on cap-clean input)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from newscrawler_spark.operators.dedup import containment_pairs, jaccard_candidates
from newscrawler_spark.operators.events import cusum_changepoints


def test_cusum_matches_recursion_and_alarms(spark):
    """The window closed form must equal the textbook recursion
    S_i = max(0, S_{i-1} + (x_i - k)) computed in pure Python, and a
    planted level shift must raise an alarm after the shift, none
    before."""
    base, shifted = 100.0, 220.0
    rows = []
    eid = 0
    for day in range(20):
        val = base if day < 14 else shifted
        rows.append((eid, f"2024-01-{day + 1:02d} 10:00:00", 1, "metric", val, "{}"))
        eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r["day"]: (r["daily_cents"], r["k_target"], r["cusum_pos"], r["is_alarm"])
        for r in cusum_changepoints(ev).collect()
    }
    days = sorted(got)
    cents = [got[d][0] for d in days]
    total = sum(cents)
    k = (total - (total % len(days))) // len(days)
    s, want = 0, {}
    for d, c in zip(days, cents):
        s = max(0, s + (c - k))
        want[d] = s
    for d in days:
        assert got[d][1] == k
        assert got[d][2] == want[d], d
        assert got[d][3] == (want[d] > k)
    pre_alarm = [got[d][3] for d in days[:14]]
    post_alarm = [got[d][3] for d in days[15:]]
    assert not any(pre_alarm)
    assert any(post_alarm)


def test_cusum_day_floors_pre_epoch_events(spark):
    """An event 12 h before the epoch belongs to day −1, not day 0:
    the day id is floored in Spark and in the DuckDB oracle alike
    (integer division truncates toward zero in both engines)."""
    import duckdb

    from __spark_entry__ import SQL_EVENTS_CUSUM

    rows = [
        (1, "1969-12-31 12:00:00", 1, "metric", 1.0, "{}"),
        (2, "1970-01-01 12:00:00", 1, "metric", 2.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = sorted(tuple(r) for r in cusum_changepoints(ev).collect())
    assert [(d, c) for _, d, c, *_ in got] == [(-1, 100), (0, 200)]

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute(
            "CREATE TABLE events AS SELECT * FROM (VALUES "
            + ", ".join(f"({i}, TIMESTAMP '{ts}', {u}, '{t}', {v}, '{p}')" for i, ts, u, t, v, p in rows)
            + ") t(event_id, ts, user_id, event_type, value, props)"
        )
        want = sorted(con.sql(SQL_EVENTS_CUSUM).fetchall())
    finally:
        con.close()
    assert got == want


def test_containment_catches_subdocument_copy(spark):
    """A short doc fully embedded in a long one: containment ≈ 1.0
    while jaccard is diluted below threshold — the operator's reason
    to exist."""
    short = "alpha beta gamma delta epsilon zeta eta theta"
    long_ = short + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, long_)], "doc_id long, text string"
    )
    jac = jaccard_candidates(docs, n=3, threshold=0.5, max_df=100).collect()
    con = containment_pairs(docs, n=3, threshold=0.9, max_df=100).collect()
    assert jac == []  # union-diluted below 0.5
    assert len(con) == 1
    r = con[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["containment"] == pytest.approx(1.0)
    assert r["shared"] == r["na"]  # every short-doc shingle is contained


def test_containment_capped_equals_uncapped(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def rows(max_df):
        return {
            (r["doc_a"], r["doc_b"], r["shared"], r["na"], r["nb"], r["containment"])
            for r in containment_pairs(
                docs, n=3, threshold=0.5, max_df=max_df
            ).collect()
        }

    capped, uncapped = rows(100), rows(None)
    assert capped == uncapped and len(capped) > 0
