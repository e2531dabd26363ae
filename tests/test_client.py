"""EPSS client composite tests over a synthetic date-partitioned score
dataset (the canonical physical layout, FIXTURES.md §1.2)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from epss_spark.client import EPSSClient, get_date_range
from epss_spark.operators.quantize import quantize
from epss_spark.plans.query import Query, apply_query
from epss_spark.sources.readers import date_partitioned_write

D = dt.date


@pytest.fixture(scope="module")
def scores_path(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("scores") / "scores")
    rows = []
    for d in range(5):  # 2023-03-07 .. 2023-03-11 (inside v3 epoch)
        date = D(2023, 3, 7) + dt.timedelta(days=d)
        rows.append((date, "CVE-X", [0.1, 0.1, 0.2, 0.2, 0.3][d], 0.5))
        rows.append((date, "CVE-Y", 0.7, 0.9))
    df = spark.createDataFrame(rows, "date date, cve string, epss double, percentile double")
    date_partitioned_write(df, root)
    return root


def test_date_range_clamps_to_epoch():
    lo, hi = get_date_range("v3", D(2020, 1, 1), D(2023, 3, 9))
    assert lo == D(2023, 3, 7) and hi == D(2023, 3, 9)
    lo, hi = get_date_range("v2", None, None)
    assert lo == D(2022, 2, 4) and hi == D(2023, 3, 6)


def test_date_range_injectable_resolver():
    lo, hi = get_date_range("v3", None, None, max_date_resolver=lambda: D(2024, 1, 31))
    assert hi == D(2024, 1, 31)


def test_get_scores_dense(spark, scores_path):
    client = EPSSClient(spark, scores_path, max_date_resolver=lambda: D(2023, 3, 11))
    out = client.get_scores(D(2023, 3, 8), D(2023, 3, 10)).collect()
    assert len(out) == 6  # 2 cves x 3 days
    assert out[0].date <= out[-1].date  # canonical order date asc


def test_get_changed_scores_first_day_semantics(spark, scores_path):
    client = EPSSClient(spark, scores_path, max_date_resolver=lambda: D(2023, 3, 11))
    out = client.get_changed_scores(D(2023, 3, 8), D(2023, 3, 11)).collect()
    got = {(r.date, r.cve) for r in out}
    # CVE-X: 0.1@07, 0.1@08, 0.2@09, 0.2@10, 0.3@11 -> changes at 09 and 11;
    # 08 is unchanged vs the prefetched 07 row -> dropped (intended semantics,
    # diverging from the reference's +1day sign bug at epss/client.py:212-214)
    # CVE-Y never changes; its first observation (07) is outside the window.
    assert got == {(D(2023, 3, 9), "CVE-X"), (D(2023, 3, 11), "CVE-X")}


def test_get_scores_by_date_partition_pruning(spark, scores_path):
    client = EPSSClient(spark, scores_path)
    df = client.get_scores_by_date(D(2023, 3, 9))
    assert df.count() == 2
    # the scan reads a single date partition, and the plan keeps the filter
    files = df.inputFiles()
    assert files and all("/date=2023-03-09/" in f for f in files)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_get_scores_with_query(spark, scores_path):
    client = EPSSClient(spark, scores_path, max_date_resolver=lambda: D(2023, 3, 11))
    out = client.get_scores(query=Query(min_value=0.5)).collect()
    assert {r.cve for r in out} == {"CVE-Y"}


def test_query_filters_before_diff(spark, tmp_path):
    """Reference semantics (epss/client.py:219-231): Query predicates apply
    to each day's snapshot BEFORE the day-over-day diff. History 0.5, 0.5,
    0.3, 0.5 with min_value=0.4: the 0.3 day is filtered out, so the final
    0.5 is unchanged vs the last SURVIVING value and must be dropped (a
    post-diff filter would emit it)."""
    import pyspark.sql.functions as F

    rows = [
        (D(2023, 3, 7), "CVE-T", 0.5, 0.5),
        (D(2023, 3, 8), "CVE-T", 0.5, 0.5),
        (D(2023, 3, 9), "CVE-T", 0.3, 0.3),
        (D(2023, 3, 10), "CVE-T", 0.5, 0.5),
    ]
    df = spark.createDataFrame(rows, "date date, cve string, epss double, percentile double")
    root = str(tmp_path / "scores")
    df.write.partitionBy("date").parquet(root)
    client = EPSSClient(spark, root, max_date_resolver=lambda: D(2023, 3, 10))
    out = client.get_changed_scores("2023-03-07", "2023-03-10", query=Query(min_value=0.4)).collect()
    assert [(r.date, r.epss) for r in out] == [(D(2023, 3, 7), 0.5)]


CANONICAL = ["date", "cve", "epss", "percentile"]


def _reference(spark, root, lo, hi, query=None, drop_unchanged=False):
    """get_scores as an unpruned read of the whole root plus the date
    filters, predicates, quantization and canonical order."""
    df = spark.read.parquet(root)
    if query is not None:
        df = apply_query(df, query)
    if drop_unchanged:
        out = quantize(df, key="cve", time="date", value="epss", min_time=lo, max_time=hi).drop("delta")
    else:
        out = df.filter((F.col("date") >= F.lit(lo)) & (F.col("date") <= F.lit(hi)))
    return out.select(*CANONICAL).orderBy(F.col("date").asc(), F.col("cve").desc())


def _same(got, want):
    # schema equality includes names, order and nullability, so an empty
    # range must come back as the same four canonical columns
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.fixture(scope="module")
def gappy_path(spark, tmp_path_factory):
    """2023-03-07 .. 2023-03-14 without 2023-03-10, plus the entries a real
    store root carries that are not days: `_SUCCESS` and a `_temporary/`
    directory holding an uncommitted day."""
    root = str(tmp_path_factory.mktemp("gappy") / "scores")
    rows = []
    for d in range(8):
        date = D(2023, 3, 7) + dt.timedelta(days=d)
        if date == D(2023, 3, 10):
            continue
        for k in range(4):
            epss = None if (k, d) == (3, 5) else [0.1, 0.1, 0.2, 0.4][(k * d) % 4]
            rows.append((date, f"CVE-{k}", epss, 0.1 * k + 0.05))
    df = spark.createDataFrame(rows, "date date, cve string, epss double, percentile double")
    date_partitioned_write(df, root)
    stray = spark.createDataFrame([(D(2023, 3, 9), "CVE-Z", 0.9, 0.9)], df.schema)
    stray.write.partitionBy("date").parquet(os.path.join(root, "_temporary", "0"))
    assert os.path.exists(os.path.join(root, "_SUCCESS"))
    return root


@pytest.mark.parametrize(
    "lo,hi",
    [
        (D(2023, 3, 10), D(2023, 3, 12)),  # starts on the missing day
        (D(2023, 3, 8), D(2023, 3, 10)),  # ends on the missing day
        (D(2023, 3, 11), D(2023, 3, 14)),  # warm-up day is the missing one
        (D(2023, 4, 1), D(2023, 4, 5)),  # wholly outside the data
        (D(2023, 3, 12), D(2023, 3, 9)),  # min_date > max_date
    ],
)
def test_range_resolved_scan_matches_unpruned_read(spark, gappy_path, lo, hi):
    client = EPSSClient(spark, gappy_path, max_date_resolver=lambda: D(2023, 4, 30))
    q = Query(ids=("CVE-1", "CVE-3"), min_value=0.1)
    for query in (None, q):
        for drop in (False, True):
            got = client.get_scores(lo, hi, query=query, drop_unchanged=drop)
            _same(got, _reference(spark, gappy_path, lo, hi, query, drop))
        _same(
            client.get_changed_scores(lo, hi, query=query),
            _reference(spark, gappy_path, lo, hi, query, drop_unchanged=True),
        )
    client.close()


def test_range_resolved_snapshot_matches_unpruned_read(spark, gappy_path):
    client = EPSSClient(spark, gappy_path)
    q = Query(min_percentile=0.2)
    for d in (D(2023, 3, 9), D(2023, 3, 10), D(2023, 5, 1)):
        for query in (None, q):
            want = spark.read.parquet(gappy_path).filter(F.col("date") == F.lit(d))
            if query is not None:
                want = apply_query(want, query)
            want = want.select(*CANONICAL).orderBy(F.col("cve").desc(), F.col("date").asc())
            _same(client.get_scores_by_date(d, query), want)


def test_missing_root_raises_when_the_query_is_built(spark, tmp_path):
    client = EPSSClient(spark, str(tmp_path / "absent"))
    with pytest.raises(AnalysisException):
        client.get_scores_by_date(D(2023, 3, 9))


def test_every_call_sees_the_current_store(spark, tmp_path):
    """No listing is cached: a day appended, or a day overwritten, after
    the client was created shows in the next call."""
    root = str(tmp_path / "scores")
    schema = "date date, cve string, epss double, percentile double"
    rows = [(D(2023, 3, 7) + dt.timedelta(days=d), "CVE-A", 0.1, 0.5) for d in range(3)]
    date_partitioned_write(spark.createDataFrame(rows, schema), root)
    client = EPSSClient(spark, root, max_date_resolver=lambda: D(2023, 3, 31))
    assert client.get_scores_by_date(D(2023, 3, 10)).count() == 0
    assert client.get_changed_scores(D(2023, 3, 8), D(2023, 3, 10)).count() == 0

    day = spark.createDataFrame([(D(2023, 3, 10), "CVE-A", 0.3, 0.7)], schema)
    date_partitioned_write(day, root, dynamic=True)
    got = client.get_scores_by_date(D(2023, 3, 10)).collect()
    assert [(r.date, r.cve, r.epss) for r in got] == [(D(2023, 3, 10), "CVE-A", 0.3)]

    day = spark.createDataFrame([(D(2023, 3, 8), "CVE-A", 0.2, 0.6)], schema)
    date_partitioned_write(day, root, dynamic=True)
    got = client.get_changed_scores(D(2023, 3, 8), D(2023, 3, 10)).collect()
    assert [(r.date, r.epss) for r in got] == [
        (D(2023, 3, 8), 0.2),
        (D(2023, 3, 9), 0.1),
        (D(2023, 3, 10), 0.3),
    ]
    client.close()


def test_building_client_queries_launches_no_spark_job(spark, tmp_path):
    """40 `date=` directories is above Spark's 32-path parallel-listing
    threshold: an unpruned read of the root lists it with a Spark job and
    infers the schema from Parquet footers with another, both while the
    query is built. Resolving the range first leaves the builder job-free."""
    root = str(tmp_path / "scores")
    rows = [(D(2023, 3, 7) + dt.timedelta(days=d), "CVE-A", d / 100.0, 0.5) for d in range(40)]
    date_partitioned_write(
        spark.createDataFrame(rows, "date date, cve string, epss double, percentile double"), root
    )
    client = EPSSClient(spark, root, max_date_resolver=lambda: D(2023, 4, 30))
    sc = spark.sparkContext
    group = "test-client-construct"
    sc.setJobGroup(group, "build client queries without running them")
    try:
        snapshot = client.get_scores_by_date(D(2023, 3, 20))
        changed = client.get_changed_scores(D(2023, 3, 10), D(2023, 4, 8))
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc._jsc.clearJobGroup()
    assert snapshot.count() == 1
    assert changed.count() == 30
    client.close()
