"""Streaming distinct-count service: per-bucket HLL sketches maintained
across micro-batches via Spark's native DataSketches functions.

The batch operator (q_hll_distinct) estimates distinct users per day in
one pass; this module answers the same question CONTINUOUSLY: each batch
sketches its own rows (`hll_sketch_agg`), merges into the persisted
per-bucket sketch state (`hll_union`), and estimates read the state
without touching any raw history. Per-bucket state is ONE fixed-size
sketch (2^lg_k registers) regardless of how many rows ever streamed —
the textbook bounded-state streaming aggregate.

Why this is exactly-mergeable: an HLL union takes the register-wise MAX,
which is associative, commutative, and idempotent — so the final sketch
(and its estimate) is IDENTICAL for any batching of the same rows,
including replays. Stream == batch is therefore an exact equality, not a
tolerance test (pinned in tests/test_topk_index.py's sibling suite), and
epoch replay needs no special casing beyond the cumulative-state
overwrite discipline shared with StreamingTopkIndex.

Storage layout:
- <root>/sketches/epoch=N : (bucket, sketch BINARY) — cumulative state
  AFTER epoch N (latest epoch wins; epoch N reads only state < N).

Scale: per batch, one map-side-combined sketch aggregate over the batch
plus a bucket-keyed join/union against |buckets| rows of state. At 100 TB
the bucket column is the partition key and per-bucket sketches are a few
KB — state size is buckets x 2^lg_k bytes, never rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType, TimestampType

from dbsync_spark.streaming.state import EpochIndex

_STATE_SCHEMA = StructType([
    StructField("bucket", TimestampType()),
    StructField("sketch", BinaryType()),
])


class StreamingDistinctIndex(EpochIndex):
    """Continuous per-day distinct counting over parquet sketch state.
    Call `process_batch` per micro-batch (directly or via
    `foreach_batch_handler()`). Cumulative latest-epoch-wins state:
    compact() keeps only the newest epoch."""

    SUBS = {"sketches": _STATE_SCHEMA}
    PRIMARY = "sketches"
    COMPACTION = "cumulative"

    def __init__(self, spark: SparkSession, root: str, lg_k: int = 12,
                 ts_col: str = "ts", key_col: str = "user_id",
                 bucket: str = "day"):
        super().__init__(spark, root)
        self.lg_k = lg_k
        self.ts_col = ts_col
        self.key_col = key_col
        self.bucket = bucket

    def process_batch(self, batch: DataFrame,
                      epoch_id: int | None = None) -> None:
        """Sketch one micro-batch and union it into the per-bucket
        state."""
        epoch_id = self._begin(batch, epoch_id)
        prev = self._read_epoch("sketches", self._latest(before=epoch_id))

        bsk = (batch.select(
            F.date_trunc(self.bucket, F.col(self.ts_col)).alias("bucket"),
            F.col(self.key_col).alias("_k"))
            .groupBy("bucket")
            .agg(F.hll_sketch_agg("_k", F.lit(self.lg_k)).alias("_bsk")))
        merged = (
            prev.join(bsk, on="bucket", how="full")
            .select(
                "bucket",
                F.when(F.col("sketch").isNull(), F.col("_bsk"))
                .when(F.col("_bsk").isNull(), F.col("sketch"))
                .otherwise(F.hll_union("sketch", "_bsk")).alias("sketch"))
        )
        self._write(merged.coalesce(1), "sketches", epoch_id)

    def estimates(self) -> DataFrame:
        """(bucket, n_distinct) estimated from the latest sketch state —
        empty frame before the first batch."""
        state = self._read_epoch("sketches", self._latest())
        return state.select(
            "bucket",
            F.hll_sketch_estimate("sketch").alias("n_distinct"))
