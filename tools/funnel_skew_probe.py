"""Skewed-key probe for the funnel fold (PERF.md round-9): one bot key
holds `hot_frac` of ALL events — the shape that melts any per-key array
materialization. Compares the chunked prefix-fold event_funnel runs
(funnel_fold_states — bounded per-task memory: ceil(events/chunk_size)
transition tables) against the monolithic collect_list reference fold
(_funnel_states_monolithic — one array per key, the round-8 design) on
the same synthetic workload, each timed to its per-step histogram, and
checks the two agree.

Usage: python tools/funnel_skew_probe.py [n_events] [hot_frac]
Prints one JSON line:
  {"n_events": N, "hot_frac": f, "hot_key_events": H,
   "chunked_sec": s, "monolithic_sec": s, "equal": true}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from epss_spark.operators import sessionize
from epss_spark.session import get_spark


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    hot_frac = float(sys.argv[2]) if len(sys.argv) > 2 else 0.10
    spark = get_spark("epss-spark-funnel-skew")
    spark.sparkContext.setLogLevel("ERROR")

    n_hot = int(n * hot_frac)
    # deterministic synthetic events: 5 types (3 are funnel steps), the
    # bot key 0 takes the first n_hot ids, the rest spread over 100k keys
    ev = (
        spark.range(n)
        .repartition(32)
        .select(
            F.col("id").alias("event_id"),
            F.when(F.col("id") < n_hot, F.lit(0))
            .otherwise(F.col("id") % 100_000 + 1)
            .alias("user_id"),
            F.timestamp_micros(
                F.lit(1_700_000_000_000_000)
                + (F.abs(F.xxhash64("id")) % 864_000_000_000)
            ).alias("ts"),
            F.element_at(
                F.array(
                    F.lit("signup"), F.lit("view"), F.lit("purchase"),
                    F.lit("click"), F.lit("scroll"),
                ),
                (F.abs(F.xxhash64("id", F.lit(1))) % 5 + 1).cast("int"),
            ).alias("event_type"),
        )
        .localCheckpoint()
    )
    steps = ["signup", "view", "purchase"]
    args = ("user_id", "event_type", "ts", "event_id", 86_400)

    def chunked(frame):
        return sessionize.funnel_fold_states(frame, steps, *args)

    def monolithic(frame):
        return sessionize._funnel_states_monolithic(frame, steps, *args)

    def timed(fold):
        t0 = time.monotonic()
        steps_ev = ev.filter(F.col("event_type").isin(steps))
        hist = sorted(map(tuple, fold(steps_ev).groupBy("step").count().collect()))
        return round(time.monotonic() - t0, 2), hist

    # warm both kernels once at small scale
    small = ev.limit(10_000).localCheckpoint()
    chunked(small).collect()
    monolithic(small).collect()

    chunked_sec, chunked_rows = timed(chunked)
    mono_sec, mono_rows = timed(monolithic)
    print(
        json.dumps(
            {
                "n_events": n,
                "hot_frac": hot_frac,
                "hot_key_events": n_hot,
                "chunked_sec": chunked_sec,
                "monolithic_sec": mono_sec,
                "equal": chunked_rows == mono_rows,
            }
        )
    )


if __name__ == "__main__":
    main()
