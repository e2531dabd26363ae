"""The two closed-loop, single-client workloads.

Each workload object runs one *pass* of its fixed operation mix per call
to `run_pass`, timing every call into the program through a Recorder, and
checks every output it can afford to check outside the timed region. A
pass that raises, or whose output check fails, counts its operations as
failed; the loop carries on.
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import traceback

import gen
import spans


class Outcome:
    """Attempted / failed operation counts for one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, ok: bool = True, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(why)
            print(f"check failed: {why}", file=sys.stderr)

    def crash(self, name: str) -> None:
        """Count the operation that just raised as attempted and failed."""
        self.attempted += 1
        self.failed += 1
        self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
        traceback.print_exc()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _read_csv_dir(path: str) -> list[tuple]:
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(f, newline="") as fh:
            r = csv.reader(fh)
            next(r, None)
            rows.extend((d, c, float(e)) for d, c, e, _ in r)
    return rows


# ---------------------------------------------------------------- epss


class EpssDaily:
    """One simulated EPSS day per pass. The operator appends the day's raw
    CSV (read_snapshots -> dynamic date_partitioned_write ->
    incremental_changed_scores(raw_tail=previous day) -> append to the
    quantized store); then the analyst runs the query mix over the store
    that now ends on that day: full-history quantization to the noop sink,
    a sorted 30-day change export to CSV, the same export for a rlike
    watchlist with a value bound, and percentile-bounded snapshots."""

    name = "epss-daily"
    snapshots_per_pass = 2
    top_ops = (
        "append_day",
        "client.changed_history",
        "client.changed_export",
        "client.watchlist",
        "client.snapshot",
    )

    def __init__(self, inputs: dict, work: str):
        self.inp = inputs
        self.dense = os.path.join(work, "scores")
        self.store = os.path.join(work, "changes")
        self.export = os.path.join(work, "export")
        self.watch = os.path.join(work, "watchlist")
        shutil.rmtree(work, ignore_errors=True)
        shutil.copytree(os.path.join(inputs["base"], "scores"), self.dense)
        shutil.copytree(os.path.join(inputs["base"], "changes"), self.store)
        self.next_day = 0
        self.next_snapshot = 0
        self.client = None

    def bind(self, spark) -> None:
        from epss_spark.client import EPSSClient

        # a previous client's cached frame died with its stopped session
        self.spark = spark
        self.client = EPSSClient(spark, scores_path=self.dense)

    def exhausted(self) -> bool:
        return self.next_day >= len(self.inp["days"])

    def run_pass(self, rec, out: Outcome) -> None:
        day = self.inp["days"][self.next_day]
        self.next_day += 1
        self._append(rec, out, day)
        self._queries(rec, out, day)

    def _append(self, rec, out: Outcome, day: dict) -> None:
        from pyspark.sql import functions as F

        from epss_spark.operators.quantize import incremental_changed_scores
        from epss_spark.sources.readers import date_partitioned_write, read_snapshots

        d = dt.date.fromisoformat(day["date"])
        prev = d - dt.timedelta(days=1)
        spark = self.spark
        with rec.span("append_day") as sp:
            with rec.span("sources.read_snapshots") as read:
                raw = read_snapshots(spark, day["file"])
            with rec.span("sources.date_partitioned_write") as write:
                date_partitioned_write(raw, self.dense, dynamic=True)
            with rec.span("operators.quantize.incremental.construct"):
                dense = spark.read.parquet(self.dense)
                changes = incremental_changed_scores(
                    spark.read.parquet(self.store),
                    dense.filter(F.col("date") == F.lit(d)),
                    since=prev,
                    raw_tail=dense.filter(F.col("date") == F.lit(prev)),
                )
            with rec.span("sources.append_changes"):
                changes.write.mode("append").parquet(self.store)
        files = glob.glob(os.path.join(self.dense, f"date={d.isoformat()}", "*.parquet"))
        n = sum(_pq_rows(f) for f in files)
        sp["files_written"] = len(files)
        sp["bytes_per_row"] = sum(os.path.getsize(f) for f in files) / max(n, 1)
        rec.note("ingest_rows_per_s", day["rows"] / (_dur(read) + _dur(write)))
        out.op(n == day["rows"], f"{d}: dense partition has {n} rows, raw file has {day['rows']}")

    def _queries(self, rec, out: Outcome, day: dict) -> None:
        from epss_spark.plans.query import Query
        from epss_spark.sources.readers import write_any

        c = self.client
        lo, hi = self.inp["min_date"], day["date"]
        with rec.span("client.changed_history") as sp:
            with rec.span("client.changed_history.construct"):
                df = c.get_changed_scores(lo, hi, sort=False)
            with rec.span("client.changed_history.exec"):
                noop(df)
        rec.note("quantize_rows_per_s", day["dense_rows"] / _dur(sp))
        out.op()  # its row count is checked once, in finish()

        with rec.span("client.changed_export") as sp:
            with rec.span("client.changed_export.construct"):
                df = c.get_scores(day["export_min_date"], hi, drop_unchanged=True)
            with rec.span("client.changed_export.exec"):
                write_any(df, self.export, "csv")
        if rec.traced:
            sp["cached_bytes"] = _cached_bytes(self.spark)
        _check_rows(out, "changed_export", _read_csv_dir(self.export), day["export"], sort_key=_date_asc_cve_desc)

        q = Query(ids=tuple(self.inp["watchlist_ids"]), min_value=gen.WATCHLIST_MIN_VALUE)
        with rec.span("client.watchlist") as sp:
            with rec.span("client.watchlist.construct"):
                df = c.get_scores(day["export_min_date"], hi, query=q, drop_unchanged=True)
            with rec.span("client.watchlist.exec"):
                write_any(df, self.watch, "csv")
        rows = _read_csv_dir(self.watch)
        sp["rows_out"] = len(rows)
        _check_rows(out, "watchlist", rows, day["watchlist"], sort_key=_date_asc_cve_desc)

        q = Query(min_percentile=gen.SNAPSHOT_MIN_PERCENTILE)
        for _ in range(self.snapshots_per_pass):
            want = self.inp["snapshots"][self.next_snapshot % len(self.inp["snapshots"])]
            self.next_snapshot += 1
            with rec.span("client.snapshot") as sp:
                with rec.span("client.snapshot.construct"):
                    df = c.get_scores_by_date(want["date"], q)
                with rec.span("client.snapshot.exec"):
                    got = df.collect()
            sp["rows_out"] = len(got)
            rows = [(r.date.isoformat(), r.cve, r.epss, r.percentile) for r in got]
            _check_rows(out, f"snapshot {want['date']}", rows, want, sort_key=lambda r: _desc(r[1]))

    def finish(self, out: Outcome) -> None:
        """changed_history over the whole store must return exactly the
        change events the generator planted up to the last appended day,
        and the incrementally built quantized store must equal it (count
        and order-insensitive hash)."""
        from pyspark.sql import functions as F

        if self.next_day > 0:
            cols = ["date", "cve", "epss", "percentile"]

            def digest(df):
                r = df.select(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
                ).first()
                return int(r["n"]), int(r["h"] or 0)

            last = self.inp["days"][self.next_day - 1]
            full = digest(self.client.get_changed_scores(self.inp["min_date"], last["date"], sort=False))
            store = digest(self.spark.read.parquet(self.store))
            out.op(full[0] == last["changed_total"], f"changed_history rows {full[0]} != planted {last['changed_total']}")
            out.op(store == full, f"quantized store {store} != changed_history {full}")
        self.client.close()

    def end_to_end(self, rec) -> dict:
        snap, days = rec.samples["client.snapshot"], rec.samples["append_day"]
        quantize_rate = median_metric(rec.samples["quantize_rows_per_s"], "rows/s")
        return {
            "pass_s": median_metric(rec.samples["pass"]),
            "rows_per_s": quantize_rate,
            "op_p50_s": median_metric(snap),
            "report": {
                "quantize_rows_per_s": quantize_rate,
                "export_s": median_metric(rec.samples["client.changed_export"]),
                "watchlist_s": median_metric(rec.samples["client.watchlist"]),
                "snapshot_p50_s": median_metric(snap),
                "snapshot_tail_s": tail_metric(snap),
                "append_day_p50_s": median_metric(days),
                "append_day_tail_s": tail_metric(days),
                "ingest_rows_per_s": median_metric(rec.samples["ingest_rows_per_s"], "rows/s"),
            },
        }

    def per_layer(self, rec) -> dict:
        hist = rec.by_name("client.changed_history.exec")
        exp = rec.by_name("client.changed_export")
        snap_exec = rec.by_name("client.snapshot.exec")
        snap = rec.by_name("client.snapshot")
        watch = rec.by_name("client.watchlist")
        watch_scan = _group_sum(rec, watch, "records_read")
        snap_scan = _group_sum(rec, snap, "records_read")
        app = rec.by_name("sources.append_changes")
        days = rec.by_name("append_day")
        return {
            "client.changed_history.construct_s": med(s_dur(rec.by_name("client.changed_history.construct"))),
            "client.changed_history.exec_s": med(s_dur(hist)),
            "client.changed_history.jobs": med(_group_sum(rec, rec.by_name("client.changed_history"), "jobs")),
            "client.changed_export.exec_s": med(s_dur(rec.by_name("client.changed_export.exec"))),
            "client.changed_export.jobs": med(_group_sum(rec, exp, "jobs")),
            "client.changed_export.cached_bytes": med(s.get("cached_bytes", 0) for s in exp),
            "client.snapshot.exec_s": med(s_dur(snap_exec)),
            "client.snapshot.files_read": med(s.get("files_read", 0) for s in snap_exec),
            "client.snapshot.rows_scanned_per_row_out": med(n / max(s["rows_out"], 1) for n, s in zip(snap_scan, snap)),
            "plans.query.watchlist.rows_scanned": med(watch_scan),
            "plans.query.watchlist.rows_scanned_per_row_out": med(
                n / max(s["rows_out"], 1) for n, s in zip(watch_scan, watch)
            ),
            "operators.quantize.window.shuffle_write_bytes": med(s.get("shuffle_write_bytes", 0) for s in hist),
            "operators.quantize.window.spill_bytes": med(s.get("spill_bytes", 0) for s in hist),
            "operators.quantize.window.task_skew": med(spans.window_skew(s) for s in hist),
            "operators.quantize.window.gc_s": med(s.get("gc_s", 0) for s in hist),
            "operators.quantize.incremental.construct_s": med(s_dur(rec.by_name("operators.quantize.incremental.construct"))),
            "operators.quantize.incremental.exec_s": med(s.get("stage_wall_s", 0) for s in app),
            "operators.quantize.incremental.rows_in": med(s.get("records_read", 0) for s in app),
            "operators.quantize.incremental.shuffle_write_bytes": med(s.get("shuffle_write_bytes", 0) for s in app),
            "sources.read_snapshots.s": med(s_dur(rec.by_name("sources.read_snapshots"))),
            "sources.date_partitioned_write.s": med(s_dur(rec.by_name("sources.date_partitioned_write"))),
            "sources.date_partitioned_write.files_written": med(s["files_written"] for s in days),
            "sources.date_partitioned_write.bytes_per_row": med(s["bytes_per_row"] for s in days),
            "sources.append_changes.s": med(s_dur(app)),
        }


def _desc(s: str) -> tuple:
    """Sort key that orders strings descending (a longer string sorts
    before its own prefix)."""
    return (*(-ord(ch) for ch in s), 0)


def _date_asc_cve_desc(r) -> tuple:
    return (r[0], _desc(r[1]))


def _check_rows(out: Outcome, name: str, rows, want: dict, sort_key=None) -> None:
    """Count and order-insensitive hash must match; when `sort_key` is
    given the rows must also arrive in that order."""
    got = {"rows": len(rows), "hash": gen.bag_hash(rows)}
    ok = got["rows"] == want["rows"] and got["hash"] == want["hash"]
    if sort_key is not None and ok:
        keys = [sort_key(r) for r in rows]
        ok = all(a <= b for a, b in zip(keys, keys[1:]))
        got["ordered"] = ok
    out.op(ok, f"{name}: got {got}, want rows={want['rows']} hash={want['hash']}")


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def _pq_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


# ---------------------------------------------------------------- corpus

# One query per user pipeline in examples/, chosen for the layer work
# later changes target: the pairwise cosine kernel (dedup_embedding), the
# eagerly checkpointed BM25 index, the session fold and the driver-side
# q-digest compression replay.
GROUPS = {
    "dedup": ("dedup_embedding",),
    "search": ("search_bm25_indexed",),
    "journeys": ("event_session_paths",),
    "curation": ("agg_qdigest_quantiles",),
}
QUERY_TABLE = {
    "dedup_embedding": "embeddings",
    "search_bm25_indexed": "documents",
    "event_session_paths": "events",
    "agg_qdigest_quantiles": "documents",
}
QUERIES = tuple(q for qs in GROUPS.values() for q in qs)
SEARCH = "search_bm25_indexed"  # the interactive lookup: a user waits on each search


class CorpusOperators:
    """Four registered queries, built by registry.QUERIES[q] and forced with
    the noop sink, over seeded documents / embeddings / events tables. The
    first pass collects every result instead and checks it against the
    query's DuckDB oracle on the same files."""

    name = "corpus-operators"
    top_ops = tuple(f"registry.{q}" for q in QUERIES)

    def __init__(self, inputs: dict, work: str):
        self.dir = inputs["dir"]
        self.expected = oracle_expectations(self.dir)
        self.table_rows = {t: _pq_rows(os.path.join(self.dir, f"{t}.parquet")) for t in set(QUERY_TABLE.values())}
        self.checked = False

    def bind(self, spark) -> None:
        self.spark = spark

    def exhausted(self) -> bool:
        return False

    def run_pass(self, rec, out: Outcome) -> None:
        from epss_spark import registry

        for q in QUERIES:
            try:
                with rec.span(f"registry.{q}"):
                    with rec.span(f"registry.{q}.construct"):
                        df = registry.QUERIES[q](self.spark, self.dir)
                    with rec.span(f"registry.{q}.exec"):
                        if self.checked:
                            noop(df)
                        else:
                            pdf = df.toPandas()
            except Exception:  # a failing query is a failed op; the pass goes on
                out.crash(q)
                continue
            if self.checked:
                out.op()
            else:
                got = frame_digest(pdf)
                out.op(got == self.expected[q], f"{q}: spark {got} != oracle {self.expected[q]}")
        self.checked = True

    def finish(self, out: Outcome) -> None:
        pass

    def pass_times(self, rec) -> dict[str, list[float]]:
        n = min(len(rec.samples[f"registry.{q}"]) for q in QUERIES)
        return {g: [sum(rec.samples[f"registry.{q}"][i] for q in qs) for i in range(n)] for g, qs in GROUPS.items()}

    def end_to_end(self, rec) -> dict:
        groups = self.pass_times(rec)
        n = len(groups["dedup"])
        exec_s = [sum(rec.samples[f"registry.{q}.exec"][i] for q in QUERIES) for i in range(n)]
        rows = sum(self.table_rows[QUERY_TABLE[q]] for q in QUERIES)
        ops = [t for q in QUERIES for t in rec.samples[f"registry.{q}"]]
        search = rec.samples[f"registry.{SEARCH}"]
        return {
            "pass_s": median_metric(rec.samples["pass"]),
            "rows_per_s": metric(rows / statistics.median(exec_s), "rows/s", n),
            "op_p50_s": median_metric(search),
            "report": {
                **{f"{g}_s": median_metric(v) for g, v in groups.items()},
                "query_p50_s": median_metric(ops),
                "query_tail_s": tail_metric(ops),
            },
        }

    def per_layer(self, rec) -> dict:
        out = {}
        for q in QUERIES:
            con = rec.by_name(f"registry.{q}.construct")
            ex = rec.by_name(f"registry.{q}.exec")
            out[f"registry.{q}.construct_s"] = med(s_dur(con))
            out[f"registry.{q}.eager_jobs"] = med([s["jobs"] for s in con])
            out[f"registry.{q}.exec_s"] = med(s_dur(ex))
            out[f"registry.{q}.exec_jobs"] = med([s["jobs"] for s in ex])
            out[f"registry.{q}.shuffle_write_bytes"] = med(
                [a.get("shuffle_write_bytes", 0) + b.get("shuffle_write_bytes", 0) for a, b in zip(con, ex)]
            )
            out[f"registry.{q}.spill_bytes"] = med(
                [a.get("spill_bytes", 0) + b.get("spill_bytes", 0) for a, b in zip(con, ex)]
            )
        return out


def oracle_expectations(data_dir: str) -> dict:
    """(rows, hash) of every query's registered DuckDB oracle over the
    same files. Cached beside the files under a key that covers the oracle
    SQL and the file bytes, so an edited oracle or table is recomputed."""
    import duckdb

    from epss_spark import registry

    oracles = registry.get_all_oracles()
    tables = sorted(set(QUERY_TABLE.values()))
    key = hashlib.blake2b(digest_size=8)
    for q in QUERIES:
        key.update(f"{q}\0{oracles[q]}\0".encode())
    for t in tables:
        with open(os.path.join(data_dir, t + ".parquet"), "rb") as f:
            key.update(f.read())
    path = os.path.join(data_dir, f"oracles-{key.hexdigest()}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.execute("SET enable_progress_bar = false")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    want = {q: frame_digest(con.execute(oracles[q]).fetchdf()) for q in QUERIES}
    con.close()
    with open(path + ".tmp", "w") as f:
        json.dump(want, f)
    os.replace(path + ".tmp", path)
    return want


def _canon(v):
    import numpy as np
    import pandas as pd

    if v is None:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (dt.date, dt.datetime, pd.Timestamp, np.datetime64)):
        return pd.Timestamp(v).strftime("%Y-%m-%dT%H:%M:%S.%f")
    try:
        f = float(v)
    except (TypeError, ValueError):
        return str(v)
    if isinstance(v, str):
        return v
    if math.isnan(f):
        return None
    if f.is_integer() and abs(f) < 2**53:
        return int(f)
    return repr(f)


def frame_digest(pdf) -> dict:
    cols = sorted(pdf.columns)
    rows = (tuple(_canon(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None))
    return {"rows": len(pdf), "cols": cols, "hash": gen.bag_hash(rows)}


# ---------------------------------------------------------------- helpers


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def s_dur(spans) -> list[float]:
    return [_dur(s) for s in spans]


def med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _group_sum(rec, parents, field: str) -> list[float]:
    """Per parent span: `field` summed over its child spans (the spans
    whose job groups launched the Spark jobs)."""
    return [sum(c.get(field, 0) for c in rec.spans if c["parent"] == s["id"]) for s in parents]


TAIL_LADDER = (99.0, 95.0, 90.0, 75.0)


def tail_of(values) -> tuple[float, float]:
    """Highest percentile on the ladder with at least ten samples beyond
    it (nearest rank); the median when there are fewer than 20 samples."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_LADDER:
        if n * (100 - p) / 100 >= 10:
            return xs[math.ceil(p / 100 * n) - 1], p
    return statistics.median(xs), 50.0


def metric(value: float, unit: str, n: int, percentile: float | None = None) -> dict:
    m = {"value": float(value), "unit": unit, "samples": n}
    if percentile is not None:
        m["percentile"] = percentile
    return m


def median_metric(values, unit: str = "s") -> dict:
    return metric(statistics.median(values), unit, len(values))


def tail_metric(values) -> dict:
    tail, p = tail_of(values)
    return metric(tail, "s", len(values), p)


WORKLOADS = {w.name: w for w in (EpssDaily, CorpusOperators)}
