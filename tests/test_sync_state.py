"""`DbSyncApp.sync_state` — the fold behind GET /status/sync:

- it counts each change id once, by its CURRENT status (an id acked ERR
  and later OK is a success, not both);
- its reads are serialized against the retention pass (the shared ack
  lock), so a read racing the log-segment unlinks or the status
  compaction's file swap cannot fail on the deleted files.
"""

from __future__ import annotations

import datetime as dt
import os
import threading

from dbsync_spark.app import DbSyncApp
from dbsync_spark.changelog import ORDERS_PAYLOAD_SCHEMA
from dbsync_spark.config import parse_config
from dbsync_spark.schemas import SYNC_DATA_SCHEMA, SYNC_STATUS_SCHEMA

APP_YAML = """
sys: {maxPollWait: 5000, dataKeepHours: 24, statusCompactFiles: 1}
db:
  - {name: db1, type: parquet}
  - {name: t1, type: parquet}
sync:
  - sourceDb: db1
    targetDb: t1
    sourceSchema: public
    sourceTable: orders
    sourceKeys: o_orderkey
"""

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _app(spark, tmp_path, n_ids: int, acks: list[tuple]):
    """An app whose db1 log holds ids 1..n_ids and whose status dir holds
    `acks` (dataId, status, retry, seconds after T0), one file per ack."""
    app = DbSyncApp(spark, parse_config(APP_YAML), str(tmp_path / "app"),
                    {"db1.public.orders": ORDERS_PAYLOAD_SCHEMA})
    app.bootstrap()
    pipe = app.pipelines[0]
    spark.createDataFrame(
        [(i, "db1", "t1", "public", "orders", "I", "{}", T0)
         for i in range(1, n_ids + 1)], SYNC_DATA_SCHEMA
    ).coalesce(1).write.mode("append").parquet(pipe.log_path)
    for data_id, status, retry, sec in acks:
        spark.createDataFrame(
            [(data_id, status, "", retry, T0 + dt.timedelta(seconds=sec))],
            SYNC_STATUS_SCHEMA).coalesce(1).write.mode("append").parquet(
            pipe.status_path)
    return app


def test_sync_state_counts_each_id_by_current_status(spark, tmp_path):
    """id 1: ERR then OK (a converged retry) -> success only; id 2: OK;
    id 3: ERR; id 4: never acked -> pending. The counts partition the
    log: they sum to its row count."""
    app = _app(spark, tmp_path, 4, [(1, "ERR", 0, 0), (2, "OK", 0, 0),
                                    (3, "ERR", 0, 0), (1, "OK", 1, 5)])
    state = app.sync_state()
    assert (state.success, state.error, state.pending, state.blocked) == \
        (2, 1, 1, 0)
    assert (state.success + state.error + state.pending + state.blocked
            + state.others) == 4
    app.stop()


def _parquet(path):
    return {f for f in os.listdir(path) if f.endswith(".parquet")}


def test_sync_state_read_is_serialized_with_retention_pass(spark, tmp_path):
    """Interleave a retention pass between sync_state planning its reads
    and executing them. Unserialized, the pass unlinks the expired log
    segments and swaps the status files out from under the planned read
    and the count fails with FILE_NOT_EXIST; under the ack lock the
    pass's deletions wait for the read."""
    app = _app(spark, tmp_path, 6, [(i, "OK", 0, i) for i in range(1, 7)])
    pipe = app.pipelines[0]
    status_before = _parquet(pipe.status_path)
    assert len(status_before) > 1

    swept = threading.Event()

    def retention():
        app.retention_pass(now=dt.datetime(2030, 1, 1))
        swept.set()

    plan_status = app._status_df
    threads = []

    def status_df_then_retention(db):
        df = plan_status(db)  # the reads' file listings are fixed here
        if not threads:  # sync_state's read; the pass reads status too
            threads.append(threading.Thread(target=retention))
            threads[0].start()
            swept.wait(timeout=5)  # lets an unserialized pass finish
        return df

    app._status_df = status_df_then_retention
    state = app.sync_state()
    for t in threads:
        t.join(timeout=120)
    app._status_df = plan_status

    assert swept.is_set()
    assert (state.success, state.pending) == (6, 0)
    assert not _parquet(pipe.log_path)  # every segment expired and swept
    assert _parquet(pipe.status_path).isdisjoint(status_before)  # compacted
    app.stop()
