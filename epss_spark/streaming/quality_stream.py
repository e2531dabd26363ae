"""Continuous model-quality monitoring — cluster_silhouette and
cluster_boundary as a stream against the FROZEN centroid model.

The promotion lifecycle watches three things: what the corpus looks
like (drift_stream — model-free), where a candidate refresh would move
points (assignment_drift — needs both models), and — this module — how
well the CURRENT frozen model still fits the data arriving NOW. A
falling incoming-silhouette or rising boundary mass is the operational
"retrain soon" signal: it fires while the window model is still being
served, before any candidate exists to gate.

Per micro-batch: one dual-path two-nearest projection against the
frozen model (operators/clustering.py::two_nearest_distances — codegen
at small k, the Arrow kernel above BATCHED_ASSIGN_CELLS, so a
production-k monitor never builds the interpreted expression tree),
then ONE per-cluster aggregate of four additive integers —
(n, quantized silhouette sum, boundary count, quantized margin sum) —
appended as an epoch-scoped delta. Integer sums commute, so this is
the kmeans/burst/drift additive family: delivery order, batch splits,
and replays (epoch-scoped overwrites) are all irrelevant, and the
snapshot equals the batch cluster_silhouette + cluster_boundary
reports over the union of everything delivered, bit-exactly (pinned in
tests, including out-of-order delivery). No ordering contract, no
`.late` sibling. Input contract and audit are the family's:
each vector id EXACTLY once, audited by count AND by the `.ids`
id-checksum sibling (streaming/id_audit.py).

State size: k rows per epoch, additively compacted — per-read state is
O(k * compact_every) regardless of stream lifetime.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epss_spark.operators import clustering
from epss_spark.streaming.dedup_stream import (
    _write_epoch,
    autocompact_epoch,
    read_artifact,
)
from epss_spark.streaming.id_audit import read_id_checksum, write_id_audit_epoch


def _fold_quality(df: DataFrame) -> DataFrame:
    """Additive compaction transform: one row per cluster, all four
    integers summed, max(__epoch) keeps folded rows attributed to a
    committed epoch."""
    return df.groupBy("cluster_id").agg(
        F.sum("n").alias("n"),
        F.sum("__qs").alias("__qs"),
        F.sum("__bd").alias("__bd"),
        F.sum("__qm").alias("__qm"),
        F.max("__epoch").alias("__epoch"),
    )


def quality_delta(
    batch_df: DataFrame,
    centroids: Sequence[Sequence[float]],
    threshold: float,
    vec_col: str = "embedding",
    quant: float = clustering.QUANT,
) -> DataFrame:
    """This batch's per-cluster quality sums against the frozen model:
    (cluster_id, n, __qs quantized silhouette sum, __bd boundary count,
    __qm quantized margin sum). The EXACT same quantization expressions
    as the batch operators, so folded deltas reproduce their reports
    bit-for-bit. One projection + one map-side-combinable k-row
    aggregate."""
    rows = clustering.two_nearest_distances(
        batch_df.select(vec_col), centroids, vec_col=vec_col,
        cluster_col="cluster_id", a_col="__a", b_col="__b",
    )
    a, b = F.col("__a"), F.col("__b")
    s = F.when(F.greatest(a, b) == 0.0, F.lit(0.0)).otherwise(
        (b - a) / F.greatest(a, b)
    )
    margin = b - a
    return rows.select(
        "cluster_id",
        F.floor(s * F.lit(quant) + F.lit(0.5)).cast("long").alias("__qs"),
        F.when(margin < F.lit(float(threshold)), 1).otherwise(0).alias("__bd"),
        F.floor(margin * F.lit(quant) + F.lit(0.5)).cast("long").alias("__qm"),
    ).groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__qs").alias("__qs"),
        F.sum("__bd").alias("__bd"),
        F.sum("__qm").alias("__qm"),
    )


def process_quality_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    centroids: Sequence[Sequence[float]],
    threshold: float = 0.05,
    vec_col: str = "embedding",
    quant: float = clustering.QUANT,
    compact_every: int | None = 64,
    id_col: str | None = "vec_id",
) -> None:
    """One idempotent epoch: the batch's per-cluster quality delta,
    appended epoch-scoped, plus the `.ids` audit row. A foreachBatch
    replay overwrites `epoch-N/` with the identical recomputed delta
    (the projection is deterministic)."""
    if batch_df.isEmpty():
        return
    delta = quality_delta(
        batch_df, centroids, threshold, vec_col=vec_col, quant=quant
    ).withColumn("__epoch", F.lit(int(epoch_id)))
    _write_epoch(delta, state_path, epoch_id)
    autocompact_epoch(
        batch_df.sparkSession, state_path, epoch_id, compact_every,
        transform=_fold_quality,
    )
    if id_col is not None:
        write_id_audit_epoch(batch_df, epoch_id, state_path, id_col, compact_every)


def quality_snapshot(
    spark: SparkSession, state_path: str, quant: float = clustering.QUANT
) -> DataFrame:
    """The live model-quality report over everything the stream has
    seen: (cluster_id, n_points, avg_silhouette, n_boundary,
    boundary_frac, avg_margin) — avg_silhouette and n_boundary/avg_margin
    are bit-identical to cluster_silhouette / cluster_boundary over the
    union of all batches (same quantized sums, same division chains).
    Lazy; one additive aggregate over the bounded store."""
    df = read_artifact(spark, state_path)
    folded = df.groupBy("cluster_id").agg(
        F.sum("n").cast("long").alias("n_points"),
        F.sum("__qs").cast("long").alias("__qs"),
        F.sum("__bd").cast("long").alias("n_boundary"),
        F.sum("__qm").cast("long").alias("__qm"),
    )
    n_d = F.col("n_points").cast("double")
    return folded.select(
        "cluster_id",
        "n_points",
        (F.col("__qs").cast("double") / n_d / F.lit(quant)).alias("avg_silhouette"),
        "n_boundary",
        (F.col("n_boundary").cast("double") / n_d).alias("boundary_frac"),
        (F.col("__qm").cast("double") / n_d / F.lit(quant)).alias("avg_margin"),
    )


def quality_total(spark: SparkSession, state_path: str) -> int:
    """Total vectors absorbed (count half of the exactly-once audit)."""
    row = read_artifact(spark, state_path).agg(F.sum("n").alias("t")).collect()[0]
    return int(row["t"] or 0)


def quality_checksum(spark: SparkSession, state_path: str) -> tuple[int, int] | None:
    """Content half of the exactly-once audit — compare against
    kmeans_stream.corpus_id_checksum(corpus); None when the stream ran
    with id_col=None."""
    return read_id_checksum(spark, state_path)


def start_quality_stream(
    vec_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    centroids: Sequence[Sequence[float]],
    threshold: float = 0.05,
    vec_col: str = "embedding",
    quant: float = clustering.QUANT,
    compact_every: int | None = 64,
    available_now: bool = True,
    id_col: str | None = "vec_id",
):
    """Continuous model-quality monitoring over a vector stream: per
    micro-batch, append the batch's per-cluster silhouette/boundary
    delta against the frozen model; read the live report any time with
    `quality_snapshot` and alert on falling avg_silhouette or rising
    boundary_frac — the retrain-soon signal that fires before any
    candidate model exists to gate."""
    from epss_spark.streaming.carried_state import start_carried_stream

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        process_quality_batch(
            batch_df, epoch_id, state_dir, centroids, threshold, vec_col, quant,
            compact_every=compact_every, id_col=id_col,
        )

    return start_carried_stream(vec_stream, checkpoint_dir, process_batch, available_now)
