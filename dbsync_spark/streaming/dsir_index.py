"""Streaming DSIR target-model service: the hashed-n-gram bucket counts
of a TARGET domain maintained across micro-batches.

The batch operator (functions/sampling.py::dsir_select) fits the target
bucket counts in one pass; this module maintains them as a SERVICE: new
target exemplars arrive in micro-batches (a curation team keeps adding
"more like this" documents over time), each batch appends its own gram
counts as an epoch delta, and `select(raw_df, k)` scores a raw corpus
against the accumulated target model at any point.

Why stream == batch is EXACT: the target model is per-bucket COUNTS, and
integer addition is associative and commutative — any batching of the
same target docs sums to identical totals, so the centered integer
weights (shared dsir_weights_from_counts arithmetic) and every document
score reproduce the one-pass batch fit bit-for-bit. q_streaming_dsir
hash-matches the very same DuckDB oracle as the batch q_dsir_select.

Replay discipline: epoch N's delta is a pure function of batch N alone
(no cross-epoch anti-join needed — counts are additive, not set-union),
so a replayed epoch overwrites exactly its own delta and the sum is
unchanged. Out-of-order epochs commute for the same reason.

Storage layout:
- <root>/tcounts/epoch=N : (bucket, t_n) — batch N's own gram counts
  (NOT cumulative; the model is the sum over epochs)

Per-document removal: bucket counts are doc-agnostic (a count has no
owner), so the base class cannot forget in place; ForgettingDsirIndex
persists per-doc attribution (doc_id, bucket, c) and rebuilds the count
epochs from surviving docs on forget — the same physical-rewrite
contract as ForgettingBloomIndex.

Scale: the model is <= DSIR_BUCKETS rows per epoch regardless of corpus
size (the whole point of the hashing trick); an epoch delta is one
map-side-combined aggregate of the batch. Scoring a 100 TB raw corpus
broadcasts the summed model — identical topology to the batch scorer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from dbsync_spark.functions.sampling import (DSIR_BUCKETS,
                                             dsir_score,
                                             dsir_weights_from_counts,
                                             hashed_gram_buckets,
                                             per_bucket_counts)
from dbsync_spark.streaming.state import EpochIndex, Forgettable

_TCOUNT_SCHEMA = StructType([StructField("bucket", LongType()),
                             StructField("t_n", LongType())])
_DOCCOUNT_SCHEMA = StructType([StructField("doc_id", LongType()),
                               StructField("bucket", LongType()),
                               StructField("c", LongType())])


class StreamingDsirIndex(EpochIndex):
    """Incremental DSIR target model over parquet state dirs. Call
    `process_batch` with each batch of target-domain documents (directly
    or via `foreach_batch_handler()`), then `select`/`score` raw
    corpora. Count deltas are additive, so compaction ("union") merges
    every epoch into ONE summed delta epoch — target_counts() is
    unchanged because integer addition is associative (a replayed
    pre-compaction epoch would double-count into the merged sum, hence
    the quiescent-caller discipline)."""

    SUBS = {"tcounts": _TCOUNT_SCHEMA}
    PRIMARY = "tcounts"

    def __init__(self, spark: SparkSession, root: str,
                 n_buckets: int = DSIR_BUCKETS, text_col: str = "text",
                 id_col: str = "doc_id"):
        super().__init__(spark, root)
        self.n_buckets = n_buckets
        self.text_col = text_col
        self.id_col = id_col

    def _batch_counts(self, docs: DataFrame) -> DataFrame:
        return (hashed_gram_buckets(docs, self.id_col, self.text_col,
                                    self.n_buckets)
                .groupBy("bucket").agg(F.count("*").alias("t_n")))

    def process_batch(self, target_docs: DataFrame,
                      epoch_id: int | None = None) -> None:
        """Fold one micro-batch of target exemplars into the model."""
        epoch_id = self._begin(target_docs, epoch_id)
        # <= n_buckets rows; one file keeps the model read O(n_epochs)
        self._write(self._batch_counts(target_docs).coalesce(1),
                    "tcounts", epoch_id)

    def _compaction_view(self, sub: str, eps: list[int]) -> DataFrame:
        if sub == "tcounts":
            return self.target_counts()
        return super()._compaction_view(sub, eps)

    def target_counts(self) -> DataFrame:
        """(bucket, t_n) summed over every epoch delta — the model."""
        return (self._read("tcounts")
                .groupBy("bucket").agg(F.sum("t_n").alias("t_n")))

    def weights(self, raw: DataFrame) -> DataFrame:
        """Centered integer weights of accumulated-target vs `raw` —
        the exact dsir_bucket_weights frame the batch fit produces."""
        r_cnt = (hashed_gram_buckets(raw, self.id_col, self.text_col,
                                     self.n_buckets)
                 .groupBy("bucket").agg(F.count("*").alias("r_n")))
        return dsir_weights_from_counts(self.target_counts(), r_cnt)

    def score(self, raw: DataFrame) -> DataFrame:
        """Featurizes `raw` once (same ReuseExchange shape as the batch
        dsir_select): r_n is the bucket-sum of the per-(doc, bucket)
        frame the scorer consumes."""
        raw_counts = per_bucket_counts(raw, self.id_col, self.text_col,
                                       self.n_buckets)
        r_cnt = raw_counts.groupBy("bucket").agg(
            F.sum("_c").alias("r_n"))
        w = dsir_weights_from_counts(self.target_counts(), r_cnt)
        return dsir_score(raw, w, self.id_col, self.text_col,
                          self.n_buckets, counts=raw_counts)

    def select(self, raw: DataFrame, k: int) -> DataFrame:
        """Top-k most target-like raw documents — hash-matches the batch
        q_dsir_select oracle when fed the same target docs in any
        batching."""
        return (self.score(raw)
                .orderBy(F.col("score").desc(), F.col(self.id_col))
                .limit(k))


class ForgettingDsirIndex(Forgettable, StreamingDsirIndex):
    """StreamingDsirIndex with target-document removal (the fourth
    persisted index family to honor right-to-be-forgotten, after search,
    dedup, and decontamination).

    Persists per-doc attribution (doc_id, bucket, c) alongside each
    count delta; `forget(doc_ids)` tombstones the ids and physically
    rebuilds every tcounts epoch from the surviving attribution, so
    post-forget output equals an index never fed those documents
    (pinned in tests) and the forgotten docs' contribution is erased at
    the storage level, not masked. Forgotten ids are permanently retired
    (same contract as the other forgetting indexes): re-ingest raises.
    Compaction merges doccount to the union of SURVIVING rows and
    forgets to one distinct tombstone epoch; a post-compaction forget()
    rebuilds from the single doccount epoch — the same fixed point as
    rebuild-then-compact.

    Storage additions:
    - <root>/doccount/epoch=N : (doc_id, bucket, c) attribution
    - <root>/forgets/epoch=N  : (doc_id) tombstones
    """

    SUBS = {**StreamingDsirIndex.SUBS, "doccount": _DOCCOUNT_SCHEMA,
            "forgets": None}
    ERASURE_SUB = "doccount"

    def _begin(self, target_docs: DataFrame, epoch_id: int | None) -> int:
        epoch_id = super()._begin(target_docs, epoch_id)
        self._write(hashed_gram_buckets(target_docs, self.id_col,
                                        self.text_col, self.n_buckets)
                    .groupBy(F.col(self.id_col).cast("long").alias("doc_id"),
                             "bucket")
                    .agg(F.count("*").alias("c")).coalesce(1),
                    "doccount", epoch_id)
        return epoch_id

    def forget(self, doc_ids: DataFrame, epoch_id: int | None = None
               ) -> None:
        """Tombstone a frame of (doc_id) rows, then physically rebuild
        every count epoch from the surviving attribution."""
        super().forget(doc_ids, epoch_id)
        self._rebuild()

    def _rebuild(self) -> None:
        """Rewrite each tcounts epoch as the bucket-sum of its surviving
        (doc_id, bucket, c) rows — one anti-join + one bounded aggregate
        per epoch, the same work shape as process_batch run E times."""
        for e in self._epochs("doccount"):
            self._write(self._read("doccount", epochs=[e])
                        .groupBy("bucket").agg(F.sum("c").alias("t_n"))
                        .coalesce(1), "tcounts", e)
