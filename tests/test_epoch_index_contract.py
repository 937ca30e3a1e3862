"""One contract over every streaming index class (streaming/state.py::
EpochIndex and its 23 subclasses), on tiny inline data:

- streaming equals batch: 3 epochs answer like 1 epoch of the union;
- replaying an epoch is idempotent;
- a compaction that crashed after staging is recovered by the next
  compact(), answers unchanged (cumulative state: a partial prune);
- forget equals rebuild (Forgetting* classes), and a forgotten id stays
  retired.

The deep per-index suites keep their invariant tests; this module is the
fast representative of every invariant class for every index, and it
pins that the lifecycle lives in state.py alone.
"""

from __future__ import annotations

import ast
import datetime as dt
import importlib
import inspect
import os
import pkgutil
import shutil

import pytest
from pyspark.sql import functions as F

import dbsync_spark.streaming as streaming
from dbsync_spark.streaming.state import (EpochIndex, list_epochs,
                                          pending_compaction, stage_compact)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "spark streaming state stores epochs for replay safety"),
    (3, "incremental index maintenance keeps every query exact"),
    (4, "the quick brown fox jumps over the lazy dog today"),
    (5, "spark streaming state stores epochs for replay safety now"),
    (6, "completely different words appear within this text"),
    (7, "incremental index maintenance keeps every query exact"),
    (8, "the quick brown fox jumps over the lazy dog tonight"),
    (9, "unrelated tokens fill this last small document"),
]
T0 = dt.datetime(2024, 1, 1)
EVENTS = [(i, 1 + i % 2, T0 + dt.timedelta(hours=i + 12 * (i % 2)),
           float(i % 4), ["alpha beta", "beta gamma", "alpha"][i % 3])
          for i in range(1, 13)]
VECTORS = [(i, [float(i % 3), float(i % 2), 1.0, float(i) / 9])
           for i in range(1, 10)]
FORGET = [4]  # shares text with 1 and 8: forgetting it is non-local


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").coalesce(1)


def _events(spark):
    return spark.createDataFrame(
        EVENTS, "id long, user_id long, ts timestamp, value double, "
                "text string").coalesce(1)


def _vectors(spark):
    return spark.createDataFrame(
        VECTORS, "vec_id long, embedding array<double>").coalesce(1)


def _ivf(cls):
    def make(spark, root):
        idx = cls(spark, root, dim=4, n_clusters=2)
        idx.fit(_vectors(spark))
        return idx
    return make


def _mod(name):
    return importlib.import_module(f"dbsync_spark.streaming.{name}")


def _spec(module, cls, data, query, make=None, id_col="doc_id"):
    return (module, cls, data, query, make, id_col)


# class -> (module, class name, data, query, factory, batch id column)
SPECS = {s[1]: s for s in [
    _spec("dedup_index", "StreamingDedupIndex", _docs,
          lambda i: i.all_pairs().select("doc_a", "doc_b", "jaccard")),
    _spec("dedup_index", "ForgettingDedupIndex", _docs,
          lambda i: i.all_pairs().select("doc_a", "doc_b", "jaccard")),
    _spec("search_index", "StreamingSearchIndex", _docs,
          lambda i: i.bm25(["quick", "spark", "index", "dog"])),
    _spec("search_index", "ForgettingSearchIndex", _docs,
          lambda i: i.bm25(["quick", "spark", "index", "dog"])),
    _spec("bloom_index", "StreamingBloomIndex", _docs,
          lambda i: i.flag(_train(i.spark))),
    _spec("bloom_index", "ForgettingBloomIndex", _docs,
          lambda i: i.flag(_train(i.spark))),
    _spec("dsir_index", "StreamingDsirIndex", _docs,
          lambda i: i.target_counts()),
    _spec("dsir_index", "ForgettingDsirIndex", _docs,
          lambda i: i.target_counts()),
    _spec("cluster_index", "StreamingClusterIndex", _docs,
          lambda i: i.canonical()),
    _spec("cluster_index", "ForgettingClusterIndex", _docs,
          lambda i: i.canonical()),
    _spec("ann_index", "StreamingIvfIndex", _vectors,
          lambda i: i.query(_vectors(i.spark), k=3), id_col="vec_id"),
    _spec("ann_index", "ForgettingIvfIndex", _vectors,
          lambda i: i.query(_vectors(i.spark), k=3), id_col="vec_id"),
    _spec("simhash_index", "StreamingSimhashIndex", _docs,
          lambda i: i.pairs()),
    _spec("simhash_index", "ForgettingSimhashIndex", _docs,
          lambda i: i.pairs()),
    _spec("span_index", "StreamingSpanIndex", _docs,
          lambda i: i.current_spans()),
    _spec("span_index", "ForgettingSpanIndex", _docs,
          lambda i: i.current_spans()),
    _spec("simjoin_index", "StreamingSimJoinIndex", _docs,
          lambda i: i.all_pairs()),
    _spec("simjoin_index", "ForgettingSimJoinIndex", _docs,
          lambda i: i.all_pairs()),
    _spec("cms_index", "StreamingCmsIndex", _events,
          lambda i: i.estimates(_events(i.spark).select("user_id")),
          make=lambda c: lambda s, r: c(s, r, "user_id")),
    _spec("distinct_index", "StreamingDistinctIndex", _events,
          lambda i: i.estimates()),
    _spec("topk_index", "StreamingTopkIndex", _docs,
          lambda i: i.summary()),
    _spec("topk_index", "StreamingTrendingIndex", _events,
          lambda i: i.trending(k=2)),
    _spec("dtw_monitor", "StreamingDtwMonitor", _events,
          lambda i: i.distances(),
          make=lambda c: lambda s, r: c(s, r, [0.0, 1.0, 3.0],
                                        radius=2, window_buckets=6)),
]}


def _train(spark):
    return spark.createDataFrame(
        DOCS + [(20, "a wholly unseen training document text"),
                (21, "the quick brown fox ran off somewhere else")],
        "doc_id long, text string")


def _index_classes():
    """Every Streaming*/Forgetting* class defined under streaming/."""
    out = {}
    for m in pkgutil.iter_modules(streaming.__path__):
        mod = _mod(m.name)
        for name, cls in inspect.getmembers(mod, inspect.isclass):
            if (cls.__module__ == mod.__name__
                    and name.startswith(("Streaming", "Forgetting"))
                    and hasattr(cls, "process_batch")):
                out[name] = cls
    return out


def test_every_index_class_is_an_epoch_index_under_contract():
    classes = _index_classes()
    assert set(classes) == set(SPECS), (
        "streaming index classes without a contract spec (or stale "
        f"specs): {set(classes) ^ set(SPECS)}")
    assert len(classes) == 23
    assert all(issubclass(c, EpochIndex) for c in classes.values())


def test_lifecycle_is_defined_only_in_state():
    """The epoch lifecycle lives in streaming/state.py alone: no other
    streaming module re-defines the foreachBatch adapter, the tombstone
    read, or the epoch listing."""
    lifecycle = {"foreach_batch_handler", "_forgotten", "_epochs"}
    found = []
    for path in sorted(os.listdir(os.path.dirname(streaming.__file__))):
        if not path.endswith(".py") or path == "state.py":
            continue
        with open(os.path.join(os.path.dirname(streaming.__file__),
                               path)) as fh:
            tree = ast.parse(fh.read())
        found += [f"{path}:{n.name}" for n in ast.walk(tree)
                  if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                  and n.name in lifecycle]
    assert not found, f"lifecycle re-defined outside state.py: {found}"


def _ingest(idx, frame, epoch_id):
    idx.process_batch(frame, epoch_id=epoch_id)


def _crash_then_compact(idx):
    """Leave a compaction half done, then let compact() recover it."""
    if idx.COMPACTION == "cumulative":
        sub = next(iter(idx.SUBS))
        shutil.rmtree(idx._path(sub, idx._epochs(sub)[0]))  # partial prune
    else:
        sub = next(s for s in idx.SUBS if len(idx._compaction_epochs(s)) > 1)
        eps = idx._compaction_epochs(sub)
        parts, sort = idx.LAYOUT.get(sub, (None, None))
        stage_compact(idx._compaction_view(sub, eps), idx.root, sub, eps,
                      partition_by=parts, sort_within=sort)
    idx.compact()
    for sub in idx.SUBS:
        assert not pending_compaction(idx.root, sub), sub
        assert len(list_epochs(idx.root, sub)) <= 1, sub


def _contract(spark, root, name):
    """Run every contract property for one index class."""
    module, cls_name, data, query, make, id_col = SPECS[name]
    cls = getattr(_mod(module), cls_name)
    new = make(cls) if make else (_ivf(cls) if "Ivf" in name else cls)
    frame = data(spark)
    key = frame.columns[0]
    batches = ([frame.where(F.col(key).between(3 * b + 1, 3 * b + 3))
                for b in range(3)] if key == "doc_id" else
               [frame.where((F.col(key) % 3) == b) for b in range(3)])
    q = lambda idx: _rows(query(idx))  # noqa: E731

    streamed = new(spark, f"{root}/stream")
    for e, b in enumerate(batches):
        _ingest(streamed, b, e)
    one = new(spark, f"{root}/batch")
    _ingest(one, frame, 0)
    expect = q(one)
    assert expect, f"{name}: fixture answers nothing"
    assert q(streamed) == expect, f"{name}: stream != batch"

    _ingest(streamed, batches[2], 2)
    assert q(streamed) == expect, f"{name}: epoch replay changed state"

    _crash_then_compact(streamed)
    assert q(streamed) == expect, f"{name}: compaction recovery changed state"

    if not hasattr(streamed, "forget"):
        return
    gone = frame.where(F.col(id_col).isin(FORGET))
    streamed.forget(gone.select(id_col))
    rebuilt = new(spark, f"{root}/rebuilt")
    _ingest(rebuilt, frame.where(~F.col(id_col).isin(FORGET)), 0)
    assert q(streamed) == q(rebuilt), f"{name}: forget != rebuild"
    with pytest.raises(ValueError, match="permanently"):
        _ingest(streamed, gone, 7)


@pytest.fixture(scope="module")
def contract_outcomes(spark, tmp_path_factory):
    """Run the per-class contracts concurrently: the indexes hold
    disjoint roots, and their ~2,000 tiny Spark jobs overlap better than
    they run one after another (~1.6x faster on 4 cores). Maps class
    name -> the exception it raised, or None."""
    from concurrent.futures import ThreadPoolExecutor

    base = tmp_path_factory.mktemp("contract")
    # one-row-group data: a single shuffle partition and one input split
    # per frame keep every job one task wide
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")

    def run(name):
        try:
            _contract(spark, f"{base}/{name}", name)
        except (Exception, pytest.fail.Exception) as e:
            return e  # re-raised by the class's own test
        return None

    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            return dict(zip(sorted(SPECS), pool.map(run, sorted(SPECS))))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)


@pytest.mark.parametrize("name", sorted(SPECS))
def test_epoch_index_contract(contract_outcomes, name):
    if contract_outcomes[name] is not None:
        raise contract_outcomes[name]
