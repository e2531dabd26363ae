"""Stateful streaming quantization + physical layout operators."""

from __future__ import annotations

import shutil
import threading

import pytest
from pyspark.sql import functions as F

from epss_spark.operators.layout import (
    repartition_for_window,
    salted_agg,
    size_coalesced_shuffles,
    write_bucketed,
)
from epss_spark.operators.quantize import changed_scores
from epss_spark.tables import load_table


def test_streaming_quantization_matches_batch(spark, tmp_path):
    """The stateful stream over the full backlog must produce exactly the
    batch quantization result (the core equivalence of the design)."""
    from epss_spark.streaming.stateful import streaming_changed_values

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", events_dir / "events.parquet")

    # The driver's events.parquet has shipped ts as TIMESTAMP(NANOS) and as
    # TIMESTAMP(MICROS); mirror load_table's dual handling (tables.py) since
    # readStream needs an explicit schema.
    import pyarrow.parquet as pq

    ts_type = str(pq.read_schema(str(events_dir / "events.parquet")).field("ts").type)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NANOS files (pyarrow: 'timestamp[ns]') surface as LONG under
    # nanosAsLong=true, so they take the long branch; only micro/milli
    # timestamps read as real TimestampType
    if ts_type.startswith("timestamp") and not ts_type.startswith("timestamp[ns"):
        raw = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        ).parquet(str(events_dir))
        stream = raw.select("event_id", "ts", "user_id", "value")
    else:
        raw = spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string,"
            " value double, props string"
        ).parquet(str(events_dir))
        stream = raw.select(
            "event_id",
            F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
            "user_id",
            "value",
        )
    out = streaming_changed_values(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("stream_quant")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.ts, r.value, r.prev_value)
        for r in spark.sql("SELECT * FROM stream_quant").collect()
    }

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    batch = changed_scores(
        ev.select("event_id", "ts", "user_id", "value"),
        key="user_id",
        time="ts",
        value="value",
        tiebreak="event_id",
        prev_col="prev_value",
    )
    want = {
        (r.user_id, r.ts, r.value, r.prev_value)
        for r in batch.select("user_id", "ts", "value", "prev_value").collect()
    }
    assert got == want


def test_salted_agg_equals_plain_agg(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    plain = {
        (r.user_id): (r.n, round(r.s, 6))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    salted = {
        (r.user_id): (r.n, round(r.s, 6))
        for r in salted_agg(
            ev,
            "user_id",
            aggs=[F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")],
            merge_aggs=[F.sum("n").alias("n"), F.sum("s").alias("s")],
        ).collect()
    }
    assert salted == plain


def test_write_bucketed_aggregation_skips_shuffle(spark, tmp_path):
    """The bucketed-layout scale claim, verified on the physical plan: a
    groupBy on the bucket key over a bucketed table plans with NO hash
    exchange — the scan itself satisfies the required distribution. This
    is what makes repeated per-cve quantizations shuffle-free at 100 TB."""
    # k must be non-unique: on a provably-unique key Catalyst removes the
    # aggregation shuffle outright and the unbucketed control is vacuous
    df = spark.range(10_000).selectExpr("id % 50 AS k", "id % 7 AS v")
    try:
        write_bucketed(df, "bt_test", "k", num_buckets=8, sort_key="k", path=str(tmp_path / "bt"))
        agg = spark.table("bt_test").groupBy("k").agg(F.sum("v").alias("s"))
        assert agg.count() == 50
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        # and the unbucketed equivalent DOES shuffle (the test would be
        # vacuous if the agg were exchange-free for other reasons) — AQE
        # only materializes exchanges in the executed plan, so run it first
        plain = df.groupBy("k").agg(F.sum("v").alias("s"))
        plain.collect()
        assert "Exchange hashpartitioning" in plain._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_test")


def test_bucketed_quantization_zero_exchanges(spark, tmp_path):
    """The repeated-quantization layout: over a cve-bucketed,
    (cve, date)-sorted table the flagship window needs NO exchange at all
    — the scan satisfies the window's clustering requirement. Client table
    mode must produce identical results to the path mode."""
    import datetime as dt

    from epss_spark.client import EPSSClient

    rows = [
        (dt.date(2023, 3, 7) + dt.timedelta(days=d), f"CVE-{k}", (k + d) % 3 / 10.0, 0.5)
        for k in range(20)
        for d in range(5)
    ]
    df = spark.createDataFrame(rows, "date date, cve string, epss double, percentile double")
    root = str(tmp_path / "scores")
    df.repartition("date").write.partitionBy("date").parquet(root)
    try:
        write_bucketed(
            df.repartition(4, "cve"),
            "bt_scores_q",
            "cve",
            num_buckets=4,
            sort_key=["cve", "date"],
            path=str(tmp_path / "bt_scores"),
        )
        hi = dt.date(2023, 3, 11)
        pc = EPSSClient(spark, root, max_date_resolver=lambda: hi)
        bc = EPSSClient(spark, table="bt_scores_q", max_date_resolver=lambda: hi)
        out = bc.get_changed_scores("2023-03-08", hi, sort=False)
        assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
        key = lambda r: (r.date, r.cve, r.epss, r.percentile)  # noqa: E731
        assert sorted(map(key, out.collect())) == sorted(
            map(key, pc.get_changed_scores("2023-03-08", hi, sort=False).collect())
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_scores_q")


PARALLELISM_FIRST = "spark.sql.adaptive.coalescePartitions.parallelismFirst"


def test_size_coalesced_shuffles_overlapping_threads_restore(spark):
    """Thread A enters, B enters, A leaves, B leaves. The flag must stay
    `false` while B is still inside, then come back to the session's value
    (an unlocked scope let B record A's `false` and leave it set)."""
    prev = spark.conf.get(PARALLELISM_FIRST)
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()
    seen, errors = {}, []

    def scoped(name, after_enter, wait_for):
        try:
            with size_coalesced_shuffles(spark):
                after_enter.set()
                assert wait_for.wait(30)
                seen[name] = spark.conf.get(PARALLELISM_FIRST)
            if name == "a":
                a_out.set()
        except Exception as exc:  # surfaced on the main thread below
            errors.append(exc)
            for event in (a_in, b_in, a_out):
                event.set()

    spark.conf.set(PARALLELISM_FIRST, "true")
    try:
        a = threading.Thread(target=scoped, args=("a", a_in, b_in))
        b = threading.Thread(target=scoped, args=("b", b_in, a_out))
        a.start()
        assert a_in.wait(30)
        b.start()
        a.join(60)
        b.join(60)
        assert not a.is_alive() and not b.is_alive()
        assert not errors and seen == {"a": "false", "b": "false"}
        assert spark.conf.get(PARALLELISM_FIRST) == "true"
    finally:
        spark.conf.set(PARALLELISM_FIRST, prev)


def test_size_coalesced_shuffles_nested_scope_restores(spark):
    prev = spark.conf.get(PARALLELISM_FIRST)
    spark.conf.set(PARALLELISM_FIRST, "true")
    try:
        with size_coalesced_shuffles(spark):
            with size_coalesced_shuffles(spark):
                assert spark.conf.get(PARALLELISM_FIRST) == "false"
            assert spark.conf.get(PARALLELISM_FIRST) == "false"
        assert spark.conf.get(PARALLELISM_FIRST) == "true"
    finally:
        spark.conf.set(PARALLELISM_FIRST, prev)


def test_size_coalesced_shuffles_thread_stress(spark):
    """More threads than cores entering and leaving at random: whoever is
    inside always sees `false`, and the session's value is back at the end."""
    import random
    import sys

    prev, interval = spark.conf.get(PARALLELISM_FIRST), sys.getswitchinterval()
    inside_values, errors = [], []

    def churn(seed):
        rng = random.Random(seed)
        try:
            for _ in range(15):
                with size_coalesced_shuffles(spark):
                    if rng.random() < 0.5:
                        inside_values.append(spark.conf.get(PARALLELISM_FIRST))
        except Exception as exc:  # surfaced on the main thread below
            errors.append(exc)

    spark.conf.set(PARALLELISM_FIRST, "true")
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=churn, args=(i,)) for i in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
        assert not any(t.is_alive() for t in threads)
        assert not errors and inside_values and set(inside_values) == {"false"}
        assert spark.conf.get(PARALLELISM_FIRST) == "true"
    finally:
        sys.setswitchinterval(interval)
        spark.conf.set(PARALLELISM_FIRST, prev)


def test_repartition_for_window_single_exchange(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    pre = repartition_for_window(ev, "user_id", 8)
    out = changed_scores(
        pre.select("event_id", "ts", "user_id", "value"),
        key="user_id",
        time="ts",
        value="value",
        tiebreak="event_id",
    )
    assert out.count() > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    # window runs on the pre-partitioned layout: no extra hash exchange for
    # the window beyond the explicit repartition
    assert plan.count("hashpartitioning(user_id") <= 2


def test_bucketed_bm25_index_prunes_posting_buckets(spark, tmp_path):
    """The DEPLOYMENT.md claim for the lexical index layout: postings
    written bucketed by term let a lookup's IN-filter prune to the query
    terms' buckets (SelectedBucketsCount in the scan) — most of the
    index is never read."""
    from epss_spark.operators import retrieval

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    postings, doc_stats = retrieval.bm25_index(docs)
    try:
        write_bucketed(postings, "bm25_p_test", "term", num_buckets=8,
                       path=str(tmp_path / "p"))
        write_bucketed(doc_stats, "bm25_d_test", "doc_id", num_buckets=8,
                       path=str(tmp_path / "d"))
        out = retrieval.bm25_lookup(
            spark.table("bm25_p_test"), spark.table("bm25_d_test"),
            ["dup", "spark", "window"],
        )
        p = out._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in p
        assert "regexp_replace" not in p  # still no corpus tokenize
    finally:
        spark.sql("DROP TABLE IF EXISTS bm25_p_test")
        spark.sql("DROP TABLE IF EXISTS bm25_d_test")
