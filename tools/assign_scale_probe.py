"""Large-k assignment ladder (PERF.md round-12): price the two physical
forms of nearest-centroid assignment (operators/clustering.py::
assign_clusters) against each other as k grows.

The codegen projection compiles k*dim literals into the Catalyst
expression tree — ideal at the oracle-checked shape (k=8, dim=64), but
plan construction + codegen cost grows O(k*dim) and at production k
(thousands of cells: IVF coarse quantizers, curation meshes) the plan
itself becomes the bottleneck. The Arrow-batched numpy kernel ships the
centroid matrix in the task closure instead: plan size O(1) in the
model, per-row cost O(k*dim) arithmetic in vectorized float64 — the
same dual-path trade as pq_topk vs pq_topk_batched.

Both forms are pinned bit-identical (tests/test_operators_ext.py), so
this probe measures COST only: wall time for a full assign+count over a
replicated embedding corpus, per form, per k. Expect codegen to win or
tie through a few hundred cells' worth of k and degrade superlinearly
past ~1k centroids while the batched kernel stays near-flat; the
BATCHED_ASSIGN_CELLS dispatch threshold (512 cells = k*dim, set from this
probe's measured ladder) keeps only the oracle-checked small shapes on
the expression path — every larger model crosses to the kernel well
before the codegen cliff. Each rung forces its form by moving that
module threshold below (batched) or above (codegen) every model size.

Round 13 adds `op`: the same ladder can price the OTHER centroid-model
projections that ride the dual dispatch —
  assign      nearest-centroid assignment + k-row count (default)
  silhouette  cluster_silhouette's two-nearest projection + k-row mean
              (the round-12 seam: before the Arrow two-nearest kernel,
              this op had only the interpreted HOF fold at any k)
  ff          farthest_first_init traversal to k picks (k corpus scans;
              expect ~linear in k for BOTH forms — the probe prices the
              per-scan constant, which is where the kernel wins)
  kmpp        kmeans_parallel_init to k centroids (round-14: the
              k-means|| oversampled init — 2 sampling rounds at
              oversample 2k + the driver-sized weighted local fit;
              expect near-FLAT in k, vs ff's linear k scans — this
              probe row is the scalable-seeding argument measured)

Usage: python tools/assign_scale_probe.py [replicas] [k1,k2,...] [max_codegen_k] [op]
Defaults: 50 replicas of sf0.1 embeddings (100k rows), k ladder
8,16,32,64,128, op=assign. The expression rung is skipped above
max_codegen_k (default 128) — past the cliff it only wastes probe time.
Prints one JSON line:
  {"op": "...", "rows": N, "dim": 64, "ladder": {"8": {"codegen_sec": s, "batched_sec": s}, ...}}
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from epss_spark.operators import clustering  # noqa: E402
from epss_spark.session import get_spark  # noqa: E402


def synth_centroids(k: int, dim: int = 64) -> list[list[float]]:
    """Deterministic synthetic model: values spread in [0, 1) with no
    RNG (probe must be replayable)."""
    return [[((i * dim + j) % 997) / 997.0 for j in range(dim)] for i in range(k)]


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    ladder = (
        [int(x) for x in sys.argv[2].split(",")]
        if len(sys.argv) > 2
        else [8, 16, 32, 64, 128]
    )
    max_codegen_k = int(sys.argv[3]) if len(sys.argv) > 3 else 128
    op = sys.argv[4] if len(sys.argv) > 4 else "assign"
    if op not in ("assign", "silhouette", "ff", "kmpp"):
        raise SystemExit(f"unknown op: {op!r} (assign | silhouette | ff | kmpp)")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("assign-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    rep = spark.range(replicas).crossJoin(base).select(
        (F.col("id") * 1_000_000 + F.col("vec_id")).alias("vec_id"), "embedding"
    )
    rep.repartition(32).write.mode("overwrite").parquet("/tmp/assign_probe_corpus")
    corpus = spark.read.parquet("/tmp/assign_probe_corpus")
    n = corpus.count()

    def run(form: str, k: int, cents) -> float:
        clustering.BATCHED_ASSIGN_CELLS = -1 if form == "batched" else math.inf
        t0 = time.monotonic()
        if op == "silhouette":
            clustering.cluster_silhouette(corpus, cents).collect()
        elif op == "ff":
            clustering.farthest_first_init(corpus, k=k, start_id=0)
        elif op == "kmpp":
            clustering.kmeans_parallel_init(
                corpus, k=k, start_id=0, n_rounds=2, oversample=2.0 * k,
                n_iter_local=2, dim=64,
            )
        else:
            out = clustering.assign_clusters(corpus, cents)
            out.groupBy("cluster_id").count().collect()
        return round(time.monotonic() - t0, 3)

    out = {}
    for k in ladder:
        cents = synth_centroids(k)
        row = {"batched_sec": run("batched", k, cents)}
        if k <= max_codegen_k:
            row["codegen_sec"] = run("codegen", k, cents)
        out[str(k)] = row
    print(json.dumps({"op": op, "rows": n, "dim": 64, "replicas": replicas, "ladder": out}))
    spark.stop()


if __name__ == "__main__":
    main()
