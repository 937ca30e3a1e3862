"""Streaming heavy hitters: a continuous top-k / trending-terms service
over a document stream, maintained as mergeable Misra-Gries state.

The batch operator (functions/sketch.py::heavy_hitters) answers "which
tokens exceed N/capacity right now" with a full-corpus recount; this
module runs the question as a SERVICE: token batches arrive, each batch's
EXACT counts merge into a bounded (<= capacity entries) persisted summary
via the mergeable-summaries rule (Agarwal et al., PODS'12):

    merge:    add counters pointwise (full outer join on token)
    compress: when more than `capacity` entries survive, subtract the
              (capacity+1)-th largest count from every entry and drop
              the non-positive ones; the subtracted amount accumulates
              into a single global error bound.

Invariants carried by the state (property-tested):
  - nhat <= true count <= nhat + err        for every summarized token
  - true count <= err                        for every absent token
  - err <= total_n / (capacity + 1)          the MG guarantee
so any token with true frequency above total_n/(capacity+1) is ALWAYS
present — the superset guarantee that makes the summary a safe prefilter
for an exact recount (the batch operator's second phase).

Storage layout (plain parquet, the fleet streaming-state pattern):
- <root>/summary/epoch=N : (tok, nhat)   — the bounded summary AFTER
                            epoch N (cumulative state, latest wins)
- <root>/meta/epoch=N    : (total_n, err) 1 row

Sequential-state idempotence: epoch N's state is a pure function of
epoch N-1's state + the batch, and is written by OVERWRITING the
epoch=N subdirs — replaying a failed epoch recomputes from N-1 and
lands byte-identical, never double-counts (unlike append-only indexes,
cumulative state must not union across epochs; reads always take the
LATEST epoch only).

Scale: the merge join is summary x batch-distinct — both bounded (the
summary by `capacity`, the batch by the micro-batch size); the two
driver-side scalars per batch (entry count, compression threshold) are
O(1) rows. Nothing ever rescans history; the corpus-sized work stays in
the batch's own groupBy, which has map-side combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType, TimestampType)
from pyspark.sql.window import Window

from dbsync_spark.functions.text import tokens
from dbsync_spark.streaming.state import EpochIndex

_SUMMARY_SCHEMA = StructType([
    StructField("tok", StringType()),
    StructField("nhat", LongType()),
])
_META_SCHEMA = StructType([
    StructField("total_n", LongType()),
    StructField("err", LongType()),
])


class StreamingTopkIndex(EpochIndex):
    """Continuous heavy-hitters summary over parquet state dirs. Call
    `process_batch` per micro-batch (directly, or via
    `foreach_batch_handler(text_col=...)` from a writeStream).
    summary/meta are cumulative latest-epoch-wins and share epoch ids,
    so compact() keeps only the newest epoch of each (reads resolve the
    same pair at every intermediate point)."""

    SUBS = {"meta": _META_SCHEMA, "summary": _SUMMARY_SCHEMA}
    PRIMARY = "summary"
    COMPACTION = "cumulative"

    def __init__(self, spark: SparkSession, root: str, capacity: int = 200):
        if capacity < 1:
            raise ValueError(f"capacity must be >= 1, got {capacity}")
        super().__init__(spark, root)
        self.capacity = capacity

    # -- state access -------------------------------------------------------

    def _state(self, epoch: int | None):
        summary = self._read_epoch("summary", epoch)
        if epoch is None:
            return summary, 0, 0
        meta = self._read_epoch("meta", epoch).first()
        if meta is None:  # summary dir exists but meta missing: corrupt
            raise RuntimeError(
                f"topk state epoch {epoch} has a summary but no meta row "
                f"under {self.root}/meta — refusing to guess total/err")
        return summary, meta["total_n"], meta["err"]

    # -- the service --------------------------------------------------------

    def process_batch(self, new_docs: DataFrame, epoch_id: int | None = None,
                      text_col: str = "text") -> None:
        """Merge one (.., text) micro-batch into the summary."""
        epoch_id = self._begin(new_docs, epoch_id)
        # cumulative state: epoch N is a pure function of the newest
        # state STRICTLY BEFORE N — so a replay of epoch N reads the
        # same predecessor it read the first time, never itself
        summary, total_n, err = self._state(self._latest(before=epoch_id))

        toks = (new_docs.select(F.explode(tokens(F.col(text_col)))
                                .alias("tok"))
                .where(F.col("tok") != ""))
        bcounts = toks.groupBy("tok").agg(F.count("*").alias("bn")) \
            .localCheckpoint()
        # batch total from the (bounded) counts frame — not a second
        # pass over the raw batch tokens
        row = bcounts.agg(F.sum("bn").alias("s")).first()
        batch_n = row["s"] or 0

        merged = (
            summary.join(bcounts, on="tok", how="full")
            .select("tok",
                    (F.coalesce(F.col("nhat"), F.lit(0))
                     + F.coalesce(F.col("bn"), F.lit(0))).alias("nhat"))
        )
        # compress to <= capacity entries: subtract the (capacity+1)-th
        # largest count (deterministic tie-break on token) from everyone
        ranked = merged.select(
            "tok", "nhat",
            F.row_number().over(
                Window.orderBy(F.col("nhat").desc(), F.col("tok"))
            ).alias("_rn"))
        d_row = ranked.where(F.col("_rn") == self.capacity + 1) \
            .select("nhat").first()
        d = 0 if d_row is None else d_row["nhat"]
        if d > 0:
            merged = (merged.select(
                "tok", (F.col("nhat") - F.lit(d)).alias("nhat"))
                .where(F.col("nhat") > 0))

        self._write(merged.select("tok", F.col("nhat").cast("long"))
                    .coalesce(1), "summary", epoch_id)
        self._write(self.spark.createDataFrame(
            [(int(total_n + batch_n), int(err + d))], _META_SCHEMA),
            "meta", epoch_id)

    # -- queries ------------------------------------------------------------

    def summary(self) -> DataFrame:
        """(tok, nhat, err, total_n) for the latest epoch — empty frame
        before the first batch."""
        s, total_n, err = self._state(self._latest())
        return s.select("tok", "nhat", F.lit(err).cast("long").alias("err"),
                        F.lit(total_n).cast("long").alias("total_n"))

    def top(self, k: int = 10) -> DataFrame:
        """Top-k summarized tokens by estimated count (nhat is an
        underestimate by at most err)."""
        s = self.summary()
        w = Window.orderBy(F.col("nhat").desc(), F.col("tok"))
        return (s.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k))


class StreamingTrendingIndex(EpochIndex):
    """Per-window heavy hitters: the same mergeable Misra-Gries state,
    kept independently per time bucket — "what's trending TODAY", not
    all-time. State is (bucket, tok, nhat) + per-bucket (total_n, err);
    each bucket's summary is bounded by `capacity`, so total state is
    active_buckets x capacity rows no matter how long the stream runs
    (old buckets stop growing the moment their events stop arriving —
    retention can drop them by partition).

    Compression runs PER BUCKET: the decrement is each bucket's
    (capacity+1)-th largest count (a per-bucket join, not a global
    scalar), so a hot day never forces compression onto a quiet one.
    Same cumulative-state overwrite discipline as StreamingTopkIndex;
    same MG bounds per bucket, property-tested."""

    SUBS = {
        "meta": StructType([
            StructField("bucket", TimestampType()),
            StructField("total_n", LongType()),
            StructField("err", LongType()),
        ]),
        "summary": StructType([
            StructField("bucket", TimestampType()),
            StructField("tok", StringType()),
            StructField("nhat", LongType()),
        ]),
    }
    PRIMARY = "summary"
    COMPACTION = "cumulative"

    def __init__(self, spark: SparkSession, root: str, capacity: int = 200,
                 ts_col: str = "ts", bucket: str = "day"):
        if capacity < 1:
            raise ValueError(f"capacity must be >= 1, got {capacity}")
        super().__init__(spark, root)
        self.capacity = capacity
        self.ts_col = ts_col
        self.bucket = bucket

    def _state(self, epoch: int | None):
        return (self._read_epoch("summary", epoch),
                self._read_epoch("meta", epoch))

    def process_batch(self, new_docs: DataFrame,
                      epoch_id: int | None = None,
                      text_col: str = "text",
                      pre_tokenized: bool = False) -> None:
        epoch_id = self._begin(new_docs, epoch_id)
        summary, meta = self._state(self._latest(before=epoch_id))

        # pre_tokenized: text_col already holds ONE token per row (e.g. a
        # categorical event_type) — count it verbatim instead of
        # whitespace-splitting, so parity with a `col AS tok` oracle does
        # not depend on the values being space-free.
        tok = (F.col(text_col) if pre_tokenized
               else F.explode(tokens(F.col(text_col))))
        toks = (new_docs.select(
            F.date_trunc(self.bucket, F.col(self.ts_col)).alias("bucket"),
            tok.alias("tok"))
            .where(F.col("tok") != ""))
        bcounts = (toks.groupBy("bucket", "tok")
                   .agg(F.count("*").alias("bn")).localCheckpoint())
        btotals = bcounts.groupBy("bucket").agg(
            F.sum("bn").cast("long").alias("bt"))

        merged = (
            summary.join(bcounts, on=["bucket", "tok"], how="full")
            .select("bucket", "tok",
                    (F.coalesce(F.col("nhat"), F.lit(0))
                     + F.coalesce(F.col("bn"), F.lit(0))).alias("nhat"))
        )
        # per-bucket decrement: the (capacity+1)-th largest count of THAT
        # bucket (0 where the bucket fits in capacity)
        w = Window.partitionBy("bucket").orderBy(
            F.col("nhat").desc(), F.col("tok"))
        ranked = merged.withColumn("_rn", F.row_number().over(w))
        decr = (ranked.where(F.col("_rn") == self.capacity + 1)
                .select("bucket", F.col("nhat").alias("_d")))
        compressed = (
            merged.join(decr, on="bucket", how="left")
            .select("bucket", "tok",
                    (F.col("nhat") - F.coalesce(F.col("_d"), F.lit(0)))
                    .alias("nhat"),
                    F.coalesce(F.col("_d"), F.lit(0)).alias("_d"))
            .where(F.col("nhat") > 0)
        )

        new_meta = (
            meta.select("bucket", "total_n", "err")
            .join(btotals, on="bucket", how="full")
            .join(decr, on="bucket", how="full")
            .select("bucket",
                    (F.coalesce(F.col("total_n"), F.lit(0))
                     + F.coalesce(F.col("bt"), F.lit(0)))
                    .cast("long").alias("total_n"),
                    (F.coalesce(F.col("err"), F.lit(0))
                     + F.coalesce(F.col("_d"), F.lit(0)))
                    .cast("long").alias("err"))
        )
        self._write(compressed.select("bucket", "tok",
                                      F.col("nhat").cast("long"))
                    .coalesce(1), "summary", epoch_id)
        self._write(new_meta.coalesce(1), "meta", epoch_id)

    def trending(self, k: int = 10) -> DataFrame:
        """(bucket, tok, nhat, err, total_n, rank): top-k per bucket."""
        summary, meta = self._state(self._latest())
        w = Window.partitionBy("bucket").orderBy(
            F.col("nhat").desc(), F.col("tok"))
        return (summary.join(meta, on="bucket")
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k))
