"""Seeded input generators for the two workloads.

Everything here runs before any timing starts and writes plain files with
pyarrow/numpy (no Spark), so the program under test only ever sees the
generated files. Each generator also returns the expected outputs it
planted, which the workloads check against after each timed call.

Inputs are cached per (seed, layout version) under the cache root; a
cache directory is only used once its `_DONE` marker holds the expected
outputs.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

LAYOUT_VERSION = 5

# epss-daily: a dense base matrix, then raw daily CSVs appended one a pass
CVES = 10_000
BASE_DAYS = 35
APPEND_DAYS = 20
REFRESH_DAY = 2
NEW_PER_DAY = (100, 200)
EXPORT_DAYS = 30
WATCHLIST_IDS = 100
WATCHLIST_MIN_VALUE = 0.002
SNAPSHOT_DAYS = 8
SNAPSHOT_MIN_PERCENTILE = 0.9

# corpus-operators: the documents / embeddings / events tables with the
# value shapes of the sf0.1 test tables (FIXTURES.md). sf0.1 has 5 000
# documents, 2 000 embeddings and 100 000 events over 1 500 users; the
# embeddings are kept whole (the pairwise cosine kernel is the costliest
# exec here), the other tables halved to fit the run budget.
DOCS = 2_500
VECS = 2_000
VEC_DIM = 64
EVENTS = 50_000
USERS = 750

START = dt.date(2024, 1, 1)
MODEL_HEADER = "#model_version:v2023.03.01,score_date:{d}T00:00:00+0000"

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")


def row_hash(row) -> int:
    """64-bit hash of one canonical row tuple."""
    return int.from_bytes(hashlib.blake2b(repr(row).encode(), digest_size=8).digest(), "little")


def bag_hash(rows) -> int:
    """Order-insensitive hash of an iterable of canonical row tuples."""
    return sum(row_hash(r) for r in rows) % (1 << 64)


def _cve_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    codes = rng.choice(10 * 90_000, size=n, replace=False)
    return np.array([f"CVE-{2015 + c // 90_000}-{10_000 + c % 90_000}" for c in codes])


def _score_matrix(rng, n_cve, n_days, refresh_day, new_per_day):
    """Dense (n_cve, n_days) epss matrix, NaN before a CVE's first day.

    About 0.5-1 % of live CVEs change per day; on `refresh_day` every live
    CVE is re-scored to a different value. Values have 5 decimals."""
    first = np.zeros(n_cve, dtype=np.int64)
    n_late = sum(new_per_day)
    first[n_cve - n_late :] = np.repeat(np.arange(len(new_per_day)), new_per_day)
    vals = np.full((n_cve, n_days), np.nan)
    cur = np.round(np.clip(rng.beta(0.3, 8.0, n_cve), 1e-5, 0.99), 5)
    for d in range(n_days):
        live = first <= d
        if d == refresh_day:
            change = live.copy()
        else:
            change = live & (rng.random(n_cve) < rng.uniform(0.005, 0.01))
        new = np.round(np.clip(cur * np.exp(rng.normal(0, 0.3, n_cve)), 1e-5, 0.99), 5)
        same = new == cur
        new[same] = np.round(np.where(cur[same] < 0.5, cur[same] + 1e-5, cur[same] - 1e-5), 5)
        cur = np.where(change & (first < d), new, cur)
        vals[live, d] = cur[live]
    return vals


def _percentiles(vals: np.ndarray) -> np.ndarray:
    """Within-day rank share (5 decimals) of every live score."""
    pct = np.full(vals.shape, np.nan)
    for j in range(vals.shape[1]):
        live = ~np.isnan(vals[:, j])
        s = np.sort(vals[live, j])
        pct[live, j] = np.round(np.searchsorted(s, vals[live, j], side="right") / len(s), 5)
    return pct


def _day_table(cves: pa.Array, vals_day, pct_day) -> pa.Table:
    live = ~np.isnan(vals_day)
    return pa.table(
        {
            "cve": cves.filter(pa.array(live)),
            "epss": pa.array(vals_day[live]),
            "percentile": pa.array(pct_day[live]),
        }
    )


def _watchlist_rows(cves, vals, days, rows_idx, min_value, lo):
    """Reference semantics of get_scores(drop_unchanged, Query(ids, min_value))
    for the CVEs in `rows_idx` (those the id alternation matches as a
    substring): filter by the value bound first, then keep each surviving
    row that differs from the CVE's previous surviving row."""
    out = []
    for i in rows_idx:
        prev = None
        for j in range(lo - 1 if lo > 0 else 0, vals.shape[1]):
            v = vals[i, j]
            if np.isnan(v) or v < min_value:
                continue
            if j >= lo and (prev is None or v != prev):
                out.append((days[j].isoformat(), str(cves[i]), float(v)))
            prev = v
    return out


def _ready(path: str):
    marker = os.path.join(path, "_DONE")
    if os.path.exists(marker):
        with open(marker) as f:
            return json.load(f)
    return None


def _finish(path: str, meta: dict) -> dict:
    with open(os.path.join(path, "_DONE"), "w") as f:
        json.dump(meta, f)
    return meta


def _fresh(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def epss_inputs(cache: str, seed: int) -> dict:
    """Base dense store + its quantized change store, the raw daily CSVs
    appended after it, and for every appended day the outputs the query
    mix must return once the store ends on that day."""
    path = os.path.join(cache, f"epss-v{LAYOUT_VERSION}-seed{seed}")
    meta = _ready(path)
    if meta:
        return meta
    _fresh(path)
    rng = np.random.default_rng([seed, 1])
    n_days = BASE_DAYS + APPEND_DAYS
    new_per_day = [0] + list(rng.integers(*NEW_PER_DAY, n_days - 1))
    n_cve = CVES + sum(new_per_day)
    cves = _cve_ids(rng, n_cve)
    vals = _score_matrix(rng, n_cve, n_days, REFRESH_DAY, new_per_day)
    pct = _percentiles(vals)
    days = [START + dt.timedelta(days=j) for j in range(n_days)]
    cves_pa = pa.array(cves.tolist())

    base = os.path.join(path, "base")
    for j, d in enumerate(days[:BASE_DAYS]):
        part = os.path.join(base, "scores", f"date={d.isoformat()}")
        os.makedirs(part)
        pq.write_table(_day_table(cves_pa, vals[:, j], pct[:, j]), os.path.join(part, "part-0.parquet"))
    # full quantization keeps each CVE's first observation and every value
    # that differs from the previous day's
    prev = np.hstack([np.full((n_cve, 1), np.nan), vals[:, :-1]])
    mask = ~np.isnan(vals) & (np.isnan(prev) | (vals != prev))
    ii, jj = np.nonzero(mask[:, :BASE_DAYS])
    os.makedirs(os.path.join(base, "changes"))
    pq.write_table(
        pa.table(
            {
                "date": pa.array([days[j] for j in jj], pa.date32()),
                "cve": pa.array(cves[ii]),
                "epss": pa.array(vals[ii, jj]),
                "percentile": pa.array(pct[ii, jj]),
                "delta": pa.array(vals[ii, jj] - prev[ii, jj], from_pandas=True),
            }
        ),
        os.path.join(base, "changes", "part-0.parquet"),
    )

    ids = sorted(rng.choice(cves[: CVES], WATCHLIST_IDS, replace=False).tolist())
    snap_days = sorted(int(j) for j in rng.choice(BASE_DAYS, SNAPSHOT_DAYS, replace=False))
    snapshots = []
    for j in snap_days:
        live = ~np.isnan(vals[:, j])
        keep = live & (pct[:, j] >= SNAPSHOT_MIN_PERCENTILE)
        rows = [(days[j].isoformat(), str(c), float(e), float(p)) for c, e, p in zip(cves[keep], vals[keep, j], pct[keep, j])]
        snapshots.append({"date": days[j].isoformat(), "rows": len(rows), "hash": bag_hash(rows)})

    pat = re.compile("|".join(ids))
    watched = [i for i, c in enumerate(cves) if pat.search(c)]
    # per-day count and hash of the change events, so that any window's
    # expected export is a sum over its days
    col_n = mask.sum(axis=0)
    col_h = np.zeros(n_days, dtype=object)
    iso = [d.isoformat() for d in days]
    for i, j in zip(*np.nonzero(mask)):
        col_h[j] += row_hash((iso[j], str(cves[i]), float(vals[i, j])))
    changed = np.cumsum(col_n)
    raw = os.path.join(path, "raw")
    os.makedirs(raw)
    appended = []
    for j in range(BASE_DAYS, n_days):
        d = days[j].isoformat()
        t = _day_table(cves_pa, vals[:, j], pct[:, j])
        f = os.path.join(raw, f"epss_scores-{d}.csv")
        with open(f, "wb") as fh:
            fh.write((MODEL_HEADER.format(d=d) + "\ncve,epss,percentile\n").encode())
            pacsv.write_csv(t, fh, pacsv.WriteOptions(include_header=False, quoting_style="none"))
        lo = j + 1 - EXPORT_DAYS
        sub = vals[:, : j + 1]
        watch_rows = _watchlist_rows(cves, sub, days, watched, WATCHLIST_MIN_VALUE, lo)
        appended.append(
            {
                "date": d,
                "file": f,
                "rows": t.num_rows,
                "dense_rows": int((~np.isnan(sub)).sum()),
                "changed_total": int(changed[j]),
                "export_min_date": days[lo].isoformat(),
                "export": {"rows": int(col_n[lo : j + 1].sum()), "hash": int(sum(col_h[lo : j + 1]) % (1 << 64))},
                "watchlist": {"rows": len(watch_rows), "hash": bag_hash(watch_rows)},
            }
        )
    meta = {
        "base": base,
        "min_date": days[0].isoformat(),
        "watchlist_ids": ids,
        "snapshots": snapshots,
        "days": appended,
    }
    return _finish(path, meta)


def corpus_inputs(cache: str, seed: int) -> dict:
    """documents / embeddings / events tables with the FIXTURES.md schemas
    and the sf0.1 value shapes: docs of 10-100 words from the 31-word
    lowercase vocabulary with 5 % planted near-dups (a copy of another doc
    plus the token "dup"), unit-norm 64-d vectors with 10 labels, and 30
    days of events over five event types."""
    path = os.path.join(cache, f"corpus-v{LAYOUT_VERSION}-seed{seed}")
    meta = _ready(path)
    if meta:
        return meta
    _fresh(path)
    rng = np.random.default_rng([seed, 3])

    words = np.array(WORDS)
    lens = rng.integers(10, 101, DOCS)
    texts = [" ".join(words[rng.integers(0, len(words), n)]) for n in lens]
    # each near-dup copies a distinct non-dup doc, so every seed's near-dup
    # graph has the same shape (disjoint pairs) and the same size
    perm = rng.permutation(DOCS)
    n_dup = DOCS // 20
    for k, src in zip(perm[:n_dup], perm[n_dup : 2 * n_dup]):
        texts[k] = texts[src] + " dup"
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(DOCS, dtype=np.int64)),
                "text": pa.array(texts),
                "lang": pa.array(rng.choice(LANGS, DOCS, p=LANG_P)),
                "source": pa.array([f"src{i}" for i in rng.integers(0, 20, DOCS)]),
                "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
            }
        ),
        os.path.join(path, "documents.parquet"),
    )

    x = rng.normal(0, 1, (VECS, VEC_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(VECS, dtype=np.int64)),
                "embedding": pa.array(list(x), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, VECS).astype(np.int32)),
            }
        ),
        os.path.join(path, "embeddings.parquet"),
    )

    secs = np.sort(rng.uniform(0, 30 * 86400, EVENTS))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e6).astype("timedelta64[us]")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(np.arange(EVENTS, dtype=np.int64)),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, USERS, EVENTS).astype(np.int64)),
                "event_type": pa.array(rng.choice(EVENT_TYPES, EVENTS)),
                "value": pa.array(np.round(rng.exponential(50, EVENTS), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)]),
            }
        ),
        os.path.join(path, "events.parquet"),
    )
    return _finish(path, {"dir": path})
