"""Streaming incremental near-dup maintenance: a persisted LSH index
driven from foreachBatch.

The batch operator (functions/dedup.py::minhash_incremental_pairs) shows
the per-increment math; this module runs it as a SERVICE: documents
arrive in micro-batches, each batch probes the persisted band index,
emits exactly the near-dup pairs touching the new docs, and appends its
own band rows for the next batch. Over any batching of the corpus, the
union of emitted pairs equals the full-corpus near-dup set (tested in
tests/test_streaming_joins.py) — the exactly-the-new-pairs streaming
contract.

Storage layout (all plain parquet dirs, swap-ready for Delta):
- <root>/bands  : (doc_id, band, band_key)  — the LSH index
- <root>/docs   : (doc_id, text)            — needed for exact-Jaccard
                  verify of candidate pairs (production may store the
                  distinct shingle-set arrays instead to avoid reshingle)
- <root>/pairs  : (doc_a, doc_b, jaccard)   — accumulated output

Scale: per batch, signature work is |batch| row-local folds; the probe
join touches only colliding (band, band_key) buckets — at 100 TB the
bands table is bucketed by band_key so the probe is a co-located join.
Appends are idempotent per epoch when driven from a checkpointed
foreachBatch (rerun of a failed epoch overwrites its files via the
epoch-id subdirectory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from dbsync_spark.functions.dedup import (
    _candidate_shingle_sets,
    _row_local_bands,
    _verify_candidates,
    probe_candidates,
)

from dbsync_spark.streaming.state import EpochIndex, Forgettable

_BANDS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("band", LongType()),
    StructField("band_key", StringType()),
])
_DOCS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
])
_PAIRS_SCHEMA = StructType([
    StructField("doc_a", LongType()),
    StructField("doc_b", LongType()),
    StructField("jaccard", DoubleType()),
])


class StreamingDedupIndex(EpochIndex):
    """Incremental LSH dedup index over parquet state dirs. Call
    `process_batch` per micro-batch (directly, or via
    `foreach_batch_handler()` from a writeStream). docs/bands/pairs are
    set unions over epochs ("union" compaction); for
    ForgettingDedupIndex compaction PHYSICALLY erases the forgotten
    docs' raw text, band rows, and pairs — the erasure obligation that
    matters most here because the docs table stores full text."""

    SUBS = {"docs": _DOCS_SCHEMA, "bands": _BANDS_SCHEMA,
            "pairs": _PAIRS_SCHEMA}
    PRIMARY = "bands"
    DIR_READS = True

    def __init__(self, spark: SparkSession, root: str,
                 threshold: float = 0.5, k: int = 3, shingle_fn=None,
                 max_bucket: int | None = None):
        from dbsync_spark.functions.dedup import LSH_MAX_BUCKET

        super().__init__(spark, root)
        self.threshold = threshold
        self.k = k
        self.shingle_fn = shingle_fn
        self.max_bucket = LSH_MAX_BUCKET if max_bucket is None else max_bucket

    def process_batch(self, new_docs: DataFrame, epoch_id: int | None = None
                      ) -> DataFrame:
        """Probe the index with a batch of (doc_id, text) docs, append
        the batch's bands/docs, persist and return the new pairs.
        Batch doc_ids must be globally unique (the CDC id contract)."""
        epoch_id = self._begin(new_docs, epoch_id)
        new_docs = new_docs.select("doc_id", "text")
        self._write(new_docs, "docs", epoch_id)
        new_bands = _row_local_bands(new_docs, "text", "doc_id", self.k,
                                     self.shingle_fn)
        self._write(new_bands, "bands", epoch_id)

        index = self._read("bands")
        new_ids = new_docs.select("doc_id")
        new_bands = index.join(F.broadcast(new_ids), on="doc_id", how="semi")
        # NOTE on the bucket-size skew cap (LSH_MAX_BUCKET): sizes are
        # measured against the index AS OF THIS BATCH, so a bucket that
        # crosses the cap mid-stream keeps the pairs already emitted in
        # earlier epochs — the stream's union is a (recall-side-up)
        # superset of a capped full recompute in that corner; equality
        # holds whenever no bucket crosses the cap mid-stream.
        cands = probe_candidates(new_bands, index, "doc_id",
                                 max_bucket=self.max_bucket)
        all_docs = self._read("docs")
        sets = _candidate_shingle_sets(all_docs, cands, "text", "doc_id",
                                       self.k, self.shingle_fn,
                                       hashed=True)
        pairs = _verify_candidates(cands, sets, "doc_id", self.threshold)
        self._write(pairs, "pairs", epoch_id)
        return self.spark.read.parquet(self._path("pairs", epoch_id))

    def all_pairs(self) -> DataFrame:
        """Every near-dup pair persisted so far (empty frame before the
        first batch; real corruption still propagates — read_state)."""
        return self._read("pairs")


class ForgettingDedupIndex(Forgettable, StreamingDedupIndex):
    """StreamingDedupIndex with document removal (right-to-be-forgotten):
    `forget` writes a tombstone epoch; band/doc reads anti-join the
    tombstones (future probes can no longer match a forgotten doc) and
    `all_pairs` drops pairs touching forgotten ids — so the queryable
    state equals an index that never saw those documents. The forgotten
    doc's TEXT stops being reachable immediately through every accessor;
    physically rewriting the parquet epochs minus tombstones is a
    compaction maintenance op, not a correctness requirement (run it for
    storage-level erasure obligations).

    Storage addition:
    - <root>/forgets/epoch=N : (doc_id) tombstones
    """
