"""Classifier dim ladder (PERF.md round-14): price the two physical
forms of the hashed-linear tier (operators/classifier.py) as the
feature dimension grows — the same dual-path trade the clustering
probes measure on k, applied to the supervised model's D.

Two ops, each with an expression form and an Arrow form pinned
bit-identical in tests, so this probe measures COST only:

  score     linear_score over a synthetic feature corpus — the codegen
            chain compiles D multiply-adds into the expression tree
            (janino-hostile past ~512 terms), the kernel ships the
            weight vector in the closure (plan O(1) in D). Each rung
            forces its form by moving BATCHED_SCORE_DIMS below (batched)
            or above (expr) the ladder's dim.
  epoch     one linear_fit gradient epoch, timed on the two kernels
            directly (_gradient_expr / _gradient_batched) — the codegen
            aggregate is D+2 sum expressions (plan grows with D), the
            kernel emits per-batch partial integer sums and folds them
            driver-side.

Expect both expression forms roughly linear in D with a HARD stop at
~512 terms — plan construction of the deep left-leaning Add tree
overflows the JVM stack (StackOverflowError in withColumn) before
janino even sees it — and both Arrow forms near-flat until the D*rows
arithmetic itself dominates. The BATCHED_SCORE_DIMS threshold (128)
is set from this ladder's measured crossover; never raise
max_expr_dim to 512, that rung crashes by construction.

Features are synthesized directly (dense arrays, no tokenize) — the
probe prices the model arithmetic, not featurize, which is a one-time
build cost at any D.

Usage: python tools/classifier_scale_probe.py [rows] [d1,d2,...] [max_expr_dim] [op]
Defaults: 200_000 rows, ladder 64,256,512,1024,4096, max_expr_dim 256,
op=score. Prints one JSON line:
  {"op": "...", "rows": N, "ladder": {"64": {"expr_sec": s, "batched_sec": s}, ...}}
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from epss_spark.operators import classifier  # noqa: E402
from epss_spark.session import get_spark  # noqa: E402


def synth_weights(dim: int) -> list[float]:
    return [((7 * j) % 997) / 997.0 - 0.5 for j in range(dim)]


def epoch(feats, w: list[float], form: str) -> None:
    """One gradient epoch of linear_fit on the chosen kernel."""
    if form == "batched":
        classifier._gradient_batched(feats, w, 0.25, "x", "y", classifier.QUANT)
    else:
        classifier._gradient_expr(
            feats, w, 0.25, "x", F.col("y").cast("double"), len(w), classifier.QUANT
        )


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    ladder = (
        [int(x) for x in sys.argv[2].split(",")]
        if len(sys.argv) > 2
        else [64, 256, 512, 1024, 4096]
    )
    max_expr_dim = int(sys.argv[3]) if len(sys.argv) > 3 else 256
    op = sys.argv[4] if len(sys.argv) > 4 else "score"
    if op not in ("score", "epoch"):
        raise SystemExit(f"unknown op: {op!r} (score | epoch)")
    spark = get_spark("classifier-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    shipped_dims = classifier.BATCHED_SCORE_DIMS  # rungs move the module value
    # session warmup so the first rung is not billed for JVM/Arrow
    # first-call costs (the bench warmup-pair lesson)
    warm = spark.createDataFrame(
        [([0.5] * 8, 1.0), ([0.25] * 8, 0.0)], "x array<double>, y double"
    )
    classifier.BATCHED_SCORE_DIMS = -1
    classifier.linear_score(warm, [0.1] * 8, 0.0).collect()
    epoch(warm, [0.1] * 8, "batched")
    epoch(warm, [0.1] * 8, "expr")

    out = {}
    for dim in ladder:
        # deterministic synthetic features: (id % dim) one-ish-hot plus a
        # dense ramp — shaped like scaled tf vectors, no RNG
        base = spark.range(rows).select(
            F.col("id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: (
                    ((F.col("id") + j) % 97).cast("double") / F.lit(97.0)
                ),
            ).alias("x"),
            ((F.col("id") % 2) == 0).cast("double").alias("y"),
        )
        base.repartition(32).write.mode("overwrite").parquet(
            "/tmp/classifier_probe_corpus"
        )
        corpus = spark.read.parquet("/tmp/classifier_probe_corpus").persist()
        corpus.count()
        w = synth_weights(dim)

        def run(form: str) -> float:
            classifier.BATCHED_SCORE_DIMS = -1 if form == "batched" else math.inf
            t0 = time.monotonic()
            if op == "score":
                classifier.linear_score(corpus, w, 0.25).agg(
                    F.sum("score")
                ).collect()
            else:
                epoch(corpus, w, form)
            return round(time.monotonic() - t0, 3)

        row = {"batched_sec": run("batched")}
        # the expr gradient aggregate above the dispatch threshold is a
        # crash risk, not just slow
        expr_cap = (
            min(max_expr_dim, shipped_dims)
            if op == "epoch"
            else max_expr_dim
        )
        if dim <= expr_cap:
            row["expr_sec"] = run("expr")
        out[str(dim)] = row
        corpus.unpersist()
        print(f"# dim {dim}: {row}", file=sys.stderr)
    print(json.dumps({"op": op, "rows": rows, "ladder": out}))
    spark.stop()


if __name__ == "__main__":
    main()
