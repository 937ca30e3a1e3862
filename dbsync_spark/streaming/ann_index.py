"""Streaming IVF similarity index: inverted lists maintained from
foreachBatch, with frozen centroids.

The batch operator (functions/similarity.py::ivf_ann_topk) trains
centroids and probes in one job; this module splits that lifecycle the
way a production vector store does:

- `fit(corpus)` — train k-means centroids ONCE on a representative
  sample and freeze them to disk. Centroids are the index's routing
  table; retraining them would reshuffle every stored list, so streaming
  ingest never touches them (periodic re-fit = rebuild, an offline job).
- `process_batch(vectors, epoch)` — assign each arriving vector to its
  nearest centroid (row-local, Arrow-batched) and append to the
  epoch-scoped inverted-list files (same replay-idempotence pattern as
  streaming/dedup_index.py).
- `query(queries, k, nprobe)` — route each query to its nprobe nearest
  lists and score only those lists: reads ~nprobe/n_clusters of the
  stored vectors. At scale the cluster column is the physical partition
  key, so the probe is partition pruning, not a filter.

Batch-invariance (tested): an index built from N micro-batches answers
queries identically to one built in a single batch — assignment is
per-row against frozen centroids, so batching cannot change any list.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbsync_spark.functions.similarity import (
    _assign_clusters,
    dot,
    kmeans_centroids,
    norm,
)

from dbsync_spark.streaming.state import EpochIndex, Forgettable


class StreamingIvfIndex(EpochIndex):
    """The inverted lists are a plain append-only union over epochs, so
    compaction ("union") merges every epoch dir into one (query results
    unchanged by construction — the merged state is the READ-path view,
    so the Forgetting subclass's tombstoned vectors are physically
    erased there)."""

    SUBS = {"lists": None}
    PRIMARY = "lists"
    DIR_READS = True

    def __init__(self, spark: SparkSession, root: str, dim: int,
                 n_clusters: int = 16, id_col: str = "vec_id",
                 vec_col: str = "embedding"):
        super().__init__(spark, root)
        self.dim = dim
        self.n_clusters = n_clusters
        self.id_col = id_col
        self.vec_col = vec_col
        self._centroids: np.ndarray | None = None

    @property
    def _centroid_path(self) -> str:
        return f"{self.root}/centroids.npy"

    def fit(self, corpus: DataFrame, iters: int = 2) -> None:
        """Train and freeze the routing centroids (deterministic
        lowest-id seeding, fixed iterations)."""
        os.makedirs(self.root, exist_ok=True)
        c = kmeans_centroids(corpus, self.dim, self.n_clusters, iters=iters,
                             id_col=self.id_col, vec_col=self.vec_col)
        np.save(self._centroid_path, c)
        self._centroids = c

    def centroids(self) -> np.ndarray:
        """Frozen routing centroids. Cached in memory for the lifetime of
        this object: a re-fit by ANOTHER process writing the same root
        goes unnoticed here by design — centroids are immutable for an
        index generation (a re-fit is a rebuild under a new root; see
        module docstring), so the cache can never be legitimately stale."""
        if self._centroids is None:
            if not os.path.exists(self._centroid_path):
                raise RuntimeError(
                    f"no centroids at {self._centroid_path}; call fit() "
                    "before ingesting or querying")
            self._centroids = np.load(self._centroid_path)
        return self._centroids

    def process_batch(self, vectors: DataFrame, epoch_id: int | None = None) -> None:
        """Assign a batch of (id, vector) rows to their inverted lists and
        append (epoch-scoped overwrite — replays are idempotent)."""
        epoch_id = self._begin(vectors, epoch_id)
        assigned = _assign_clusters(
            vectors.select(self.id_col, self.vec_col), self.centroids(),
            self.id_col, self.vec_col, nprobe=1, keep_vec=True)
        self._write(assigned.select(self.id_col, "cluster", self.vec_col),
                    "lists", epoch_id)

    def _lists(self) -> DataFrame | None:
        """The stored inverted-list rows (None before the first batch);
        the Forgetting subclass's tombstoned vectors are hidden here, so
        every query path sees only surviving vectors."""
        return self._read("lists")

    def query(self, queries: DataFrame, k: int = 10,
              nprobe: int = 2) -> DataFrame:
        """Approximate cosine top-k against the stored lists. Before any
        processed batch the index is empty, so the answer is the empty
        top-k frame ("no data yet" only — read_state; real corruption
        propagates)."""
        lists = self._lists()
        if lists is None:
            from pyspark.sql.types import (DoubleType, IntegerType,
                                           LongType, StructField,
                                           StructType)

            return self.spark.createDataFrame([], StructType([
                StructField("query_id", LongType()),
                StructField("vec_id", LongType()),
                StructField("cosine_sim", DoubleType()),
                StructField("rank", IntegerType()),
            ]))
        qb = _assign_clusters(
            queries.select(self.id_col, self.vec_col), self.centroids(),
            self.id_col, self.vec_col, nprobe=nprobe, keep_vec=True)
        c = lists.select(F.col(self.id_col).alias("vec_id"), "cluster",
                         F.col(self.vec_col).alias("e"))
        q = qb.select(F.col(self.id_col).alias("query_id"), "cluster",
                      F.col(self.vec_col).alias("qe"))
        pairs = c.join(F.broadcast(q), on="cluster").where(
            F.col("vec_id") != F.col("query_id"))
        sim = (dot(F.col("e"), F.col("qe"))
               / (norm(F.col("e")) * norm(F.col("qe")))).alias("cosine_sim")
        scored = pairs.select("query_id", "vec_id", sim).dropDuplicates(
            ["query_id", "vec_id"])
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine_sim").desc(), F.col("vec_id"))
        return (scored.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k))


class ForgettingIvfIndex(Forgettable, StreamingIvfIndex):
    """StreamingIvfIndex with right-to-be-forgotten — vector removal is
    LOCAL here (each stored row is one vector; lists are independent and
    centroids are frozen routing, never data-derived state that could
    leak a removed vector), so read-time tombstones + physical erase on
    compact() give exact never-ingested equality: query() over the
    filtered lists is precisely the query an index never fed those
    vectors would answer. Forgotten ids are permanently retired
    (re-ingest raises), matching the other forgetting families.
    Tombstones are keyed by the index's own id column."""

    @property
    def tombstone_col(self) -> str:
        return self.id_col
