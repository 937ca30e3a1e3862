"""Streaming Count-Min frequency service: a depth x width counter matrix
maintained across micro-batches.

The batch operator (q_cms_freq, functions/sketch.py) sketches a key
stream in one pass; this module answers point-frequency queries
CONTINUOUSLY: each batch builds its own counter cells, adds them into
the persisted matrix, and estimates read the state without touching any
raw history. State is AT MOST depth * width rows forever — the
bounded-state streaming aggregate, same family as the HLL service
(distinct_index.py) and the Misra-Gries service (topk_index.py).

Why stream == batch is EXACT: cells are plain integer SUMs, which are
associative and commutative, so the final matrix is identical for any
batching of the same rows. Sums are NOT idempotent, hence the
cumulative-state epoch-OVERWRITE discipline shared with the other
sketch services (epoch N = f(state < N, batch N); a replayed epoch
recomputes the identical state instead of double-counting).

And because the hash rows are md5-derived (functions/sketch.py::_cms_col),
the streamed sketch hash-matches the same DuckDB oracle as the batch
operator — an end-to-end SQL-checkable streaming sketch.

Storage layout:
- <root>/cells/epoch=N : (r, c, n) — cumulative matrix AFTER epoch N
  (latest epoch wins; epoch N reads only state < N).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from dbsync_spark.functions.sketch import (CMS_DEPTH, CMS_WIDTH,
                                           count_min_build,
                                           count_min_estimate)
from dbsync_spark.streaming.state import EpochIndex

_STATE_SCHEMA = StructType([
    StructField("r", IntegerType()),
    StructField("c", LongType()),
    StructField("n", LongType()),
])


class StreamingCmsIndex(EpochIndex):
    """Continuous Count-Min frequency sketching over parquet counter
    state. Call `process_batch` per micro-batch (directly or via
    `foreach_batch_handler()`). Cumulative latest-epoch-wins state:
    compact() keeps only the newest epoch."""

    SUBS = {"cells": _STATE_SCHEMA}
    PRIMARY = "cells"
    COMPACTION = "cumulative"

    def __init__(self, spark: SparkSession, root: str, key_col: str,
                 depth: int = CMS_DEPTH, width: int = CMS_WIDTH):
        super().__init__(spark, root)
        self.key_col = key_col
        self.depth = depth
        self.width = width

    def process_batch(self, batch: DataFrame,
                      epoch_id: int | None = None) -> None:
        """Sketch one micro-batch and sum it into the counter matrix."""
        epoch_id = self._begin(batch, epoch_id)
        prev = self._read_epoch("cells", self._latest(before=epoch_id))

        bc = count_min_build(batch, self.key_col,
                             depth=self.depth, width=self.width)
        merged = (prev.unionByName(bc)
                  .groupBy("r", "c").agg(F.sum("n").alias("n"))
                  .select(F.col("r").cast("int"),
                          F.col("c").cast("long"),
                          F.col("n").cast("long")))
        self._write(merged.coalesce(1), "cells", epoch_id)

    def estimates(self, keys: DataFrame) -> DataFrame:
        """(key, est_n) point estimates for `keys` from the latest
        matrix — empty-sketch estimates (all 0) before the first
        batch."""
        state = self._read_epoch("cells", self._latest())
        return count_min_estimate(state, keys, self.key_col,
                                  depth=self.depth, width=self.width)
