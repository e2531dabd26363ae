"""EPSS-domain composite API — the Spark rewrite of the reference's
PolarsClient (epss/client.py). The reference's get_scores is a driver-side
loop: thread-pool per-day reads, pairwise diffs, concat (epss/client.py:
202-237). Here the same lifecycle is ONE lazy plan over a date-partitioned
dataset: pruned scan -> window lag-diff -> filter -> sort. Catalyst handles
partition pruning, shuffle planning, and codegen; execution crosses
driver->executor once, at the action.

Over a `scores_path` root, each call resolves its date range to `date=`
partition directories while the query is built: one driver-side listing
of the root's children, then a read of only the directories in range
with the canonical schema. Without that, a root of more than 32 days
makes every call run two eager Spark jobs before its action (a parallel
partition listing and a Parquet-footer schema inference). The `date`
filters stay in the plan, so `PartitionFilters` still shows. Nothing is
cached between calls: every call lists the root again and sees the
store as it is then, including days appended or overwritten after the
client was created.
"""

from __future__ import annotations

import datetime as dt
import re
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from epss_spark.functions.scalars import TIME, parse_date
from epss_spark.operators.quantize import quantize
from epss_spark.plans.query import Query, apply_query
from epss_spark.schemas import SCORES_SCHEMA

# What a file read of the `date=` layout yields: the data columns, then the
# partition column, all nullable. An empty range gets a frame of this schema.
_STORE_SCHEMA = StructType(
    [StructField(f.name, f.dataType, True) for f in SCORES_SCHEMA.fields if f.name != "date"]
    + [StructField("date", SCORES_SCHEMA["date"].dataType, True)]
)
_PARTITION_DATE = re.compile(r"date=(\d{4})-(\d{1,2})-(\d{1,2})")


def _partition_date(name: str) -> dt.date | None:
    """The day of a `date=yyyy-[m]m-[d]d` directory name, read as leniently
    as Spark's string-to-date cast reads the partition value; None for any
    other name (`_SUCCESS`, `_temporary`, `date=2023-02-30`)."""
    m = _PARTITION_DATE.fullmatch(name)
    try:
        return dt.date(*map(int, m.groups())) if m else None
    except ValueError:
        return None

# Model-version epochs (reference: epss/constants.py:11-14, NOTES.md:9-11)
EPOCHS: dict[str, tuple[dt.date, dt.date | None]] = {
    "v1": (dt.date(2021, 4, 14), dt.date(2022, 2, 3)),
    "v2": (dt.date(2022, 2, 4), dt.date(2023, 3, 6)),
    "v3": (dt.date(2023, 3, 7), None),  # max resolved at runtime
}


def get_date_range(
    version: str = "v3",
    min_date: TIME | None = None,
    max_date: TIME | None = None,
    max_date_resolver: Callable[[], dt.date] | None = None,
) -> tuple[dt.date, dt.date]:
    """Clamp a user date range into the model-version epoch
    (reference: epss/client.py:100-117, :333-421). The reference resolves
    the v3 max date with a live HTTP HEAD (epss/client.py:386-402);
    here that is an injectable resolver so nothing analytical touches the
    network. Default: today."""
    lo, hi = EPOCHS[version]
    if hi is None:
        hi = max_date_resolver() if max_date_resolver else dt.date.today()
    lo_req = parse_date(min_date) if min_date is not None else lo
    hi_req = parse_date(max_date) if max_date is not None else hi
    return max(lo, lo_req), min(hi, hi_req)


class EPSSClient:
    """Query API over a `date=`-partitioned canonical score dataset."""

    def __init__(
        self,
        spark: SparkSession,
        scores_path: str | None = None,
        version: str = "v3",
        max_date_resolver: Callable[[], dt.date] | None = None,
        table: str | None = None,
    ):
        """`scores_path`: date-partitioned parquet root (the ingest layout).
        `table`: a saved (ideally cve-bucketed, (cve, date)-sorted) catalog
        table — the repeated-quantization layout: bucketing satisfies the
        window's clustering requirement, so quantization plans with ZERO
        exchanges (measured 23.6M rows/s vs 6.0M over plain files locally).
        Build it once with operators.layout.write_bucketed(df, table,
        "cve", sort_key="cve")."""
        if (scores_path is None) == (table is None):
            raise ValueError("provide exactly one of scores_path or table")
        self.spark = spark
        self.scores_path = scores_path
        self.table = table
        self.version = version
        self.max_date_resolver = max_date_resolver
        self._persisted: DataFrame | None = None

    def _scan(self, lo: dt.date, hi: dt.date) -> DataFrame:
        """The score rows the caller's `lo <= date <= hi` filter can keep.

        For `scores_path`, the range is resolved to `date=` directories now,
        from one listing of the root (a constant number of py4j round trips
        whatever the directory count), and only those are read, with the
        canonical schema: no footer inference, and no parallel listing job
        for ranges of up to 32 days. Entries whose value does not parse as
        a date are skipped, as the range filter drops them. The listing is
        not cached, so every call sees the current store. A root that
        cannot be listed is handed to the reader, which raises as an
        unpruned read does. Callers keep their `date` filters, so the plan
        still shows `PartitionFilters`."""
        if self.table is not None:
            return self.spark.table(self.table)
        jvm = self.spark._jvm
        hfs = jvm.org.apache.hadoop.fs
        try:
            root = hfs.Path(self.scores_path)
            fs = root.getFileSystem(self.spark._jsparkSession.sessionState().newHadoopConf())
            paths = hfs.FileUtil.stat2Paths(fs.listStatus(root))
        except Py4JJavaError:
            return self.spark.read.schema(SCORES_SCHEMA).parquet(self.scores_path)
        # one round trip for the whole listing instead of one per entry
        listing = jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(paths).mkString("\n")
        dirs = []
        for path in listing.split("\n"):
            day = _partition_date(path.rsplit("/", 1)[-1])
            if day is not None and lo <= day <= hi:
                dirs.append(path)
        if not dirs:
            return self.spark.createDataFrame([], _STORE_SCHEMA)
        reader = self.spark.read.schema(SCORES_SCHEMA).option("basePath", self.scores_path)
        return reader.parquet(*dirs)

    def get_scores(
        self,
        min_date: TIME | None = None,
        max_date: TIME | None = None,
        query: Query | None = None,
        drop_unchanged: bool = False,
        sort: bool = True,
    ) -> DataFrame:
        """The composite query (reference: epss/client.py:202-237) as one
        lazy plan. With drop_unchanged, scans one extra day BEFORE min_date
        for real first-day deltas (intended semantics per reference
        TODO.md:3; the reference's +1day at epss/client.py:212-214 is a
        sign bug — divergence pinned in tests/test_client.py).

        ``sort=False`` skips the canonical console ordering (date asc, cve
        desc): callers writing a partitioned dataset don't want a global
        range-sort exchange, and the reference's own quantization benchmark
        (NOTES.md:39) measures load + diff only. The unsorted path also
        needs no intermediate persist (that exists solely so the sort's
        range-partitioner sampling pass doesn't re-execute the window)."""
        lo, hi = get_date_range(self.version, min_date, max_date, self.max_date_resolver)
        # drop_unchanged also reads the warm-up day before lo (see quantize)
        df = self._scan(lo - dt.timedelta(days=1) if drop_unchanged else lo, hi)
        if query is not None:
            # Predicates apply BEFORE quantization, matching the reference,
            # which filters each day's snapshot and then diffs the survivors
            # (epss/client.py:219-231 via filter_scores). The order matters
            # for value/percentile bounds: with history 0.5, 0.5, 0.3, 0.5
            # and min_value=0.4, the final 0.5 is UNCHANGED relative to the
            # last surviving row and is dropped — filtering after the diff
            # would emit it. Pinned by test_client.py::test_query_filters_before_diff.
            df = apply_query(df, query)
        if drop_unchanged:
            out = quantize(df, key="cve", time="date", value="epss", min_time=lo, max_time=hi)
            out = out.drop("delta")
        else:
            out = df.filter((F.col("date") >= F.lit(lo)) & (F.col("date") <= F.lit(hi)))
        out = out.select("date", "cve", "epss", "percentile")
        if not sort:
            return out
        if drop_unchanged:
            # The global sort below range-partitions, and its sampling pass
            # would re-execute the whole scan+window pipeline a second time.
            # The quantized result is ~100x smaller than the input
            # (reference NOTES.md:38) — persist it so sampling and the sort
            # read the materialized change events, not the raw matrix.
            # One persisted frame is held per client (intra-query reuse, not
            # a cross-call cache): the previous one is released here so a
            # long-lived session doesn't accumulate stale cached plans.
            self.unpersist()
            out = out.persist()
            self._persisted = out
        # canonical column order (reference: epss/client.py:264) + canonical
        # sort: date asc, cve desc (reference: epss/client.py:235-236)
        return out.orderBy(F.col("date").asc(), F.col("cve").desc())

    def unpersist(self) -> None:
        """Release the cached quantized frame from the last drop_unchanged
        query (safe to call any time; results already computed stay valid,
        later recomputation just loses the cache)."""
        if self._persisted is not None:
            self._persisted.unpersist()
            self._persisted = None

    def close(self) -> None:
        self.unpersist()

    def get_scores_by_date(self, date: TIME, query: Query | None = None) -> DataFrame:
        """Single-snapshot path (reference: epss/client.py:239-268): one
        pruned partition read + predicate stack + canonical order."""
        d = parse_date(date)
        out = self._scan(d, d).filter(F.col("date") == F.lit(d))
        if query is not None:
            out = apply_query(out, query)
        return out.select("date", "cve", "epss", "percentile").orderBy(
            F.col("cve").desc(), F.col("date").asc()
        )

    def get_changed_scores(
        self,
        min_date: TIME | None = None,
        max_date: TIME | None = None,
        query: Query | None = None,
        sort: bool = True,
    ) -> DataFrame:
        """Quantized view (reference: epss/client.py:453-475)."""
        return self.get_scores(min_date, max_date, query, drop_unchanged=True, sort=sort)
