"""The replication workloads, driven through the engine's public surface
(DbSyncApp, SyncPipeline, BucketedTable, JdbcTable).

- replica: a replica back from downtime. Closed loop: a pre-landed
  backlog is drained with availableNow into an empty auto-sized
  BucketedTable. Then open loop: the continuous query runs on the
  caught-up target while a generator lands one small log file every
  TRICKLE_PERIOD_S.
- flaky_target (closed loop): the orders log delivered into a SQLite
  JdbcTable with an injected failure policy, then resolver ticks until
  nothing is left to retry, with one monitor client reading
  /status/sync: MONITOR_READS reads open loop, one every
  MONITOR_PERIOD_S from round start, then back to back through the
  retention pass.

A run times one round in a fresh app, after an untimed warm-up round
(replica: the same backlog; flaky_target: the first half of the log);
the round ends with a resolver tick that finds nothing to retry and one
retention pass.
Besides wall-clock times, the round records the CPU time its stretches
took (cpu_seconds). The final target and acks are checked against the
DuckDB oracle after the timed region.
"""

from __future__ import annotations

import os
import sqlite3
import threading
import time
import urllib.request

import duckdb
import numpy as np
import pyarrow as pa

import gen
import oracle
from spans import dir_bytes

# -- workload sizes (see README.md for how they were chosen) ---------------
BACKLOG_ORDERS = 9000           # ~45k changes, ~34k live keys
BACKLOG_FILES = 32

TRICKLE_PERIOD_S = 0.16         # one file due every 160 ms
TRICKLE_CHANGES_PER_FILE = 200
TRICKLE_LEAD_FILES = 1          # landed, committed and unscored before t1

FLAKY_ORDERS = 12000            # ~15k changes, 12k keys
FLAKY_FILES = 50
FLAKY_FILES_PER_BATCH = 25      # 2 batches
FLAKY_FAIL_MODULUS = 50         # 1 key hash in 50 fails
WARM_FLAKY_FILES = 24           # the warm-up delivers about half

# a fixed count, done well within the drain: a read costs about a CPU
# second, so a count that grew with the round's length would feed any
# slowdown back into the round's CPU time
MONITOR_READS = 3
MONITOR_PERIOD_S = 1.0
STATUS_COMPACT_FILES = 4        # compaction runs on every retention pass
# bytes per auto-sized bucket: the engine's 1 MiB local default, scaled
# down with the inputs (45k catch-up changes instead of sf0.1's 755k) so
# the catch-up still rebuckets as the target grows (4 -> 16 buckets)
BUCKET_BYTES = 128 * 1024


class Ctx:
    """Run context. `timed_start` is called once, after set-up and
    warm-up, right before the timed round."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 timed_start=lambda: None):
        self.spark, self.work, self.seed = spark, work, seed
        self.seconds, self.timed_start = seconds, timed_start


def cpu_seconds() -> float:
    """User + system CPU time of this process and every process under it
    (the JVM and its Python workers), reaped children included, from
    /proc. The kernel leaves out the time a vCPU waited for the host
    (steal), so this grows far less than wall time when the host is busy."""
    stats: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        stats[int(name)] = (int(fields[1]),
                            sum(int(x) for x in fields[11:15]))
    me = os.getpid()
    ticks = 0
    for pid, (ppid, t) in stats.items():
        p = pid
        while p > 1 and p != me:
            p = stats.get(p, (0, 0))[0]
        if p == me:
            ticks += t
    return ticks / os.sysconf("SC_CLK_TCK")


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


# -- engine plumbing --------------------------------------------------------

def make_app(ctx: Ctx, base: str, table: str, cols: dict, keys: tuple):
    from pyspark.sql.types import StructType

    from dbsync_spark.app import DbSyncApp
    from dbsync_spark.config import AppConfig, DbConfig, SysConfig
    from dbsync_spark.operators.route import SyncRule

    cfg = AppConfig(
        sys=SysConfig(targetBuckets=None,
                      statusCompactFiles=STATUS_COMPACT_FILES),
        dbs=[DbConfig("db1"), DbConfig("t1")],
        syncs=[SyncRule("db1", "public", table, keys, target_db="t1")])
    schema = StructType.fromDDL(gen.payload_ddl(cols))
    app = DbSyncApp(ctx.spark, cfg, base, {f"db1.public.{table}": schema})
    app.bootstrap()
    return app, app.pipelines[0]


def checkpoint_batches(ckpt: str) -> tuple[dict[str, int], dict[int, float]]:
    """(file name -> batch id, batch id -> commit time) from the query's
    checkpoint: the file-source log lists each batch's files and a
    batch's commit-log entry is written once its foreachBatch returned."""
    import json

    file_batch: dict[str, int] = {}
    src = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(src) if os.path.isdir(src) else []:
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(src, name)) as f:
                lines = f.read().splitlines()[1:]
        except FileNotFoundError:
            continue
        for line in lines:
            if line.strip():
                e = json.loads(line)
                file_batch[os.path.basename(e["path"])] = int(e["batchId"])
    commits: dict[int, float] = {}
    cdir = os.path.join(ckpt, "commits")
    for name in os.listdir(cdir) if os.path.isdir(cdir) else []:
        if name.isdigit():
            commits[int(name)] = os.stat(os.path.join(cdir, name)).st_mtime
    return file_batch, commits


def file_commit_times(ckpt: str, names: list[str]) -> list[float | None]:
    file_batch, commits = checkpoint_batches(ckpt)
    return [commits.get(file_batch.get(n, -1)) for n in names]


def count_files(path: str) -> int:
    try:
        return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    except FileNotFoundError:
        return 0


def parquet_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files
                if f.endswith(".parquet") and not f.startswith(".")]
    return sorted(out)


class MonitorClient(threading.Thread):
    """One client. Open loop first: read k of `count` is due at
    t0 + k * period and is sent when due (or as soon as the previous read
    returns, if that is later); its latency is timed from the due time.
    Then, from maintenance() to finish(), it reads back to back, so reads
    overlap the retention pass."""

    def __init__(self, port: int, period: float, count: int):
        super().__init__(daemon=True)
        self.url = f"http://127.0.0.1:{port}/status/sync"
        self.period, self.count = period, count
        self.reads: list[dict] = []
        self._maint = threading.Event()
        self._done = threading.Event()
        self.t0 = None

    def _read(self, due: float) -> None:
        start = time.time()
        ok = True
        try:
            with urllib.request.urlopen(self.url, timeout=60) as r:
                ok = r.status == 200 and bool(r.read())
        except OSError:
            ok = False
        self.reads.append({"due": due, "start": start, "end": time.time(),
                           "ok": ok})

    def run(self) -> None:
        for k in range(self.count):
            due = self.t0 + k * self.period
            if self._done.wait(max(0.0, due - time.time())):
                return
            self._read(due)
        self._maint.wait()
        while not self._done.is_set():
            self._read(time.time())

    def begin(self, t0: float) -> None:
        self.t0 = t0
        self.start()

    def maintenance(self) -> None:
        self._maint.set()

    def finish(self) -> None:
        self._done.set()
        self._maint.set()
        self.join(timeout=120)


def converge(app) -> tuple[list[float], float]:
    """Resolver ticks until one finds nothing to retry: (tick durations,
    end time)."""
    ticks = []
    while True:
        t = time.time()
        more = app.retry_pass()
        ticks.append(time.time() - t)
        if not more:
            return ticks, time.time()


def maintain(app, pipe) -> dict:
    """One retention pass (segment sweep + status compaction), timed."""
    status_files = count_files(pipe.status_path)
    log_before = count_files(pipe.log_path)
    t = time.time()
    app.retention_pass()
    end = time.time()
    return {"maintenance_s": end - t, "start": t, "end": end,
            "status_files": status_files,
            "files_removed": log_before - count_files(pipe.log_path)}


def land_prewritten(paths: list[str], log_dir: str) -> None:
    for p in paths:
        os.link(p, os.path.join(log_dir, os.path.basename(p)))


def stamp_mtimes(paths: list[str]) -> None:
    """Strictly increasing mtimes in list order, so the file source
    admits files (and cuts availableNow batches) in id order."""
    base = time.time_ns() - len(paths) * 1_000_000
    for i, p in enumerate(paths):
        os.utime(p, ns=(base + i * 1_000_000, base + i * 1_000_000))


def log_bytes(paths: list[str]) -> int:
    return sum(os.stat(p).st_size for p in paths)


def log_rows(paths: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


# -- the timed round --------------------------------------------------------

class Round:
    """Everything the timed round records; the metrics are derived from
    these fields in run.py and layers.py."""

    def __init__(self):
        self.t0 = self.t_conv = self.t_end = 0.0
        self.setup_s = 0.0
        # CPU seconds (cpu_seconds) of round start -> availableNow drain
        # done, of round start -> first idle resolver tick, and per batch
        # of the drain (replica's last round: of the trickle)
        self.drain_cpu_s = self.converge_cpu_s = self.batch_cpu_s = 0.0
        self.changes = 0
        # the files whose lag is reported: due, landed and commit times
        self.due: list[float] = []
        self.landed_at: list[float] = []
        self.committed: list[float | None] = []
        # throughput: changes of the drained files over their batches' busy time
        self.delivered = 0
        self.busy_s = 0.0
        # trigger time of the scored files' batches over first due -> last
        # commit: how much of that stretch the query was running a batch
        self.busy_share = 0.0
        self.ticks: list[float] = []
        self.maint: dict = {}
        # status reads; those overlapping the retention pass apart (known
        # defect: a read racing the status compaction fails)
        self.reads: list[dict] = []
        self.maint_reads: list[dict] = []
        self.batch_ids: set[int] = set()
        self.progress: list[dict] = []
        self.log_bytes = 0
        self.target_bytes = 0
        self.n_buckets = 0
        self.jdbc_rows = 0
        self.err_rows = self.blk_rows = 0
        self.failed = 0
        self.check: dict = {}

    @property
    def wall_s(self) -> float:
        return self.t_end - self.t0

    def lags(self) -> list[float]:
        return [c - d for c, d in zip(self.committed, self.due)
                if c is not None]


def _busy_share(rnd: Round, batch_ids: set[int]) -> float:
    trigger_s = sum(p["trigger_ms"] for p in rnd.progress
                    if p["batch_id"] in batch_ids) / 1000.0
    done = [c for c in rnd.committed if c is not None]
    return trigger_s / (max(done) - min(rnd.due)) if done else 0.0


def _progress_of(query, batch_ids: set[int]) -> list[dict]:
    out = []
    for p in query.recentProgress:
        if p["batchId"] in batch_ids and p["numInputRows"] > 0:
            d = dict(p["durationMs"] or {})
            out.append({"batch_id": p["batchId"],
                        "trigger_ms": d.get("triggerExecution", 0),
                        "add_batch_ms": d.get("addBatch", 0)})
    return out


def closed_round(ctx: Ctx, tag: str, files: list[str], table: str,
                 cols: dict, keys: tuple, files_per_batch: int,
                 configure=None, monitor: bool = False,
                 then=None) -> tuple[Round, object]:
    """Fresh app, pre-landed `files`, availableNow drain, resolver ticks
    until converged, `then(app, pipe, rnd)` if given, one retention pass.
    The monitor client, if any, starts reading at round start and reads
    through the retention pass."""
    rnd = Round()
    t = time.time()
    base = os.path.join(ctx.work, tag)
    app, pipe = make_app(ctx, base, table, cols, keys)
    pipe.max_files_per_trigger = files_per_batch
    if configure is not None:
        configure(pipe, base, tag)
    port = app.serve_endpoints(0)
    land_prewritten(files, pipe.log_path)
    rnd.setup_s = time.time() - t
    client = (MonitorClient(port, MONITOR_PERIOD_S, MONITOR_READS)
              if monitor else None)
    rnd.t0 = time.time()
    cpu0 = cpu_seconds()
    if client:
        client.begin(rnd.t0)
    app.run_all_available()
    rnd.drain_cpu_s = cpu_seconds() - cpu0
    rnd.ticks, rnd.t_conv = converge(app)
    rnd.converge_cpu_s = cpu_seconds() - cpu0
    names = [os.path.basename(f) for f in files]
    rnd.due = [rnd.t0] * len(files)
    rnd.landed_at = [rnd.t0] * len(files)
    rnd.committed = file_commit_times(pipe.checkpoint_path, names)
    file_batch, _ = checkpoint_batches(pipe.checkpoint_path)
    rnd.batch_ids = {file_batch[n] for n in names if n in file_batch}
    rnd.batch_cpu_s = rnd.drain_cpu_s / max(1, len(rnd.batch_ids))
    rnd.progress = _progress_of(pipe.last_query, rnd.batch_ids)
    rnd.delivered = rnd.changes = log_rows(files)
    rnd.busy_s = sum(p["trigger_ms"] for p in rnd.progress) / 1000.0
    rnd.busy_share = _busy_share(rnd, rnd.batch_ids)
    rnd.log_bytes = log_bytes(files)
    if then is not None:
        then(app, pipe, rnd)
    if client:
        client.maintenance()
    rnd.maint = maintain(app, pipe)
    rnd.t_end = time.time()
    if client:
        client.finish()
        a, b = rnd.maint["start"], rnd.maint["end"]
        for x in client.reads:
            (rnd.maint_reads if x["start"] < b and x["end"] > a
             else rnd.reads).append(x)
    app.stop()
    return rnd, pipe


def finish_bucketed(ctx: Ctx, rnd: Round, pipe, con, cols, keys) -> None:
    """Target size counters and the oracle check for a BucketedTable."""
    from dbsync_spark.operators.apply import live_rows

    rnd.target_bytes = dir_bytes(pipe.target.data_path)
    rnd.n_buckets = pipe.target.n_buckets
    got = live_rows(pipe.target.read(ctx.spark)).toArrow()
    status = parquet_files(pipe.status_path)
    rnd.failed, bad_keys = oracle.failed_changes(con, got, cols, keys, status)
    acks = oracle.ack_counts(status)
    rnd.err_rows, rnd.blk_rows = acks.get("ERR", 0), acks.get("BLK", 0)
    rnd.check = {"bad_keys": bad_keys, "rows": got.num_rows}


def oracle_for(files: list[str], cols: dict, keys: tuple):
    con = duckdb.connect()
    oracle.load_log(con, files, cols)
    oracle.expected_rows(con, cols, keys)
    return con


# -- replica ------------------------------------------------------------------

def _wait_committed(ckpt: str, names: list[str], timeout: float) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if all(c is not None for c in file_commit_times(ckpt, names)):
            return
        time.sleep(0.02)
    raise TimeoutError(f"{len(names)} landed files not committed "
                       f"within {timeout:.0f} s")


def _wait_idle(query, timeout: float) -> None:
    """Until the query has no trigger running and sees no new data."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        st = query.status
        if not st["isTriggerActive"] and not st["isDataAvailable"]:
            return
        time.sleep(0.01)
    raise TimeoutError(f"query not idle within {timeout:.0f} s")


def _land(staged: str, log_dir: str) -> float:
    """Rename one staged file into the log dir, mtime = landing time."""
    now = time.time_ns()
    os.utime(staged, ns=(now, now))
    os.rename(staged, os.path.join(log_dir, os.path.basename(staged)))
    return now / 1e9


def trickle_phase(paths: list[str]):
    """Open loop on a running app: start the continuous query, land the
    first TRICKLE_LEAD_FILES files and wait until they are committed and
    the query is idle, so the restart from the checkpoint is not scored.
    Then land scored file i at t1 + i * TRICKLE_PERIOD_S from a generator
    thread, wait until every file's batch committed, resolver ticks until
    converged, stop the query. The scored files' lags, and the CPU time
    per batch from the first due time to the last commit, replace the
    round's."""
    lead, paths = paths[:TRICKLE_LEAD_FILES], paths[TRICKLE_LEAD_FILES:]

    def run(app, pipe, rnd: Round) -> None:
        pipe.max_files_per_trigger = None
        query = pipe.start(available_now=False)
        for p in lead:
            _land(p, pipe.log_path)
        _wait_committed(pipe.checkpoint_path,
                        [os.path.basename(p) for p in lead], 120)
        _wait_idle(query, 60)
        t1 = time.time()
        cpu1 = cpu_seconds()
        due = [t1 + i * TRICKLE_PERIOD_S for i in range(len(paths))]
        landed_at: list[float] = []

        def generator() -> None:
            for p, d in zip(paths, due):
                time.sleep(max(0.0, d - time.time()))
                landed_at.append(_land(p, pipe.log_path))

        gen_thread = threading.Thread(target=generator, daemon=True)
        gen_thread.start()
        gen_thread.join(timeout=len(paths) * TRICKLE_PERIOD_S * 4 + 60)
        names = [os.path.basename(p) for p in paths]
        _wait_committed(pipe.checkpoint_path, names, 120)
        trickle_cpu_s = cpu_seconds() - cpu1
        rnd.ticks += converge(app)[0]
        query.stop()
        rnd.due, rnd.landed_at = due, landed_at
        rnd.committed = file_commit_times(pipe.checkpoint_path, names)
        file_batch, _ = checkpoint_batches(pipe.checkpoint_path)
        ids = {file_batch[n] for n in names if n in file_batch}
        rnd.batch_cpu_s = trickle_cpu_s / max(1, len(ids))
        rnd.batch_ids |= ids
        rnd.progress += _progress_of(query, ids)
        rnd.busy_share = _busy_share(rnd, ids)
        landed = [os.path.join(pipe.log_path, os.path.basename(n))
                  for n in lead + names]
        rnd.changes += log_rows(landed)
        rnd.log_bytes += log_bytes(landed)

    return run


def replica(ctx: Ctx) -> dict:
    t = time.time()
    staging = os.path.join(ctx.work, "staging")
    backlog_tbl = gen.catchup_log(ctx.seed, BACKLOG_ORDERS).table_arrow(
        gen.CREATE_TIME_US)
    backlog = gen.write_files(backlog_tbl, staging, BACKLOG_FILES, "backlog")
    stamp_mtimes(backlog)
    n_scored = max(1, round(ctx.seconds / TRICKLE_PERIOD_S))
    logs = gen.trickle_files(
        ctx.seed, backlog_tbl.num_rows + 1, BACKLOG_ORDERS,
        TRICKLE_LEAD_FILES + n_scored, TRICKLE_CHANGES_PER_FILE)
    trickle = [gen.write_files(lg.table_arrow(gen.CREATE_TIME_US), staging,
                               1, f"trickle{i:05d}")[0]
               for i, lg in enumerate(logs)]
    # the oracle replays exactly what the timed round lands
    con = oracle_for(backlog + trickle, gen.LINEITEM_COLS, gen.LINEITEM_KEYS)
    gen_s = time.time() - t

    def catchup(tag: str, files: list[str], then=None):
        return closed_round(ctx, tag, files, "lineitem", gen.LINEITEM_COLS,
                            gen.LINEITEM_KEYS, len(files) // 2, then=then)

    t = time.time()
    catchup("warm", backlog)
    warm_s = time.time() - t
    setup_cpu_s = cpu_seconds()

    ctx.timed_start()
    rnd, pipe = catchup("timed", backlog, trickle_phase(trickle))
    finish_bucketed(ctx, rnd, pipe, con, gen.LINEITEM_COLS, gen.LINEITEM_KEYS)
    con.close()
    return {"round": rnd, "gen_s": gen_s, "warm_s": warm_s,
            "setup_cpu_s": setup_cpu_s, "files": backlog,
            "cols": gen.LINEITEM_COLS, "keys": gen.LINEITEM_KEYS}


# -- flaky_target ------------------------------------------------------------

_ORDERS_DDL = ('CREATE TABLE "orders" (o_orderkey INTEGER PRIMARY KEY, '
               "o_custkey INTEGER, o_orderstatus TEXT, o_totalprice REAL, "
               'o_orderdate TEXT, o_orderpriority TEXT, "_last_id" INTEGER)')


def failing_key(orderkey):
    """1 in FLAKY_FAIL_MODULUS keys by a multiplicative hash; works on a
    Spark Column and on a NumPy array alike."""
    return (orderkey * 2654435761 % 4294967296) % FLAKY_FAIL_MODULUS == 0


def failure_policy(changes):
    """Every change of a failing key fails on its first attempt; a later
    change of the key in the same batch is blocked behind it (BLK)."""
    from pyspark.sql import functions as F

    return F.when(failing_key(F.col("o_orderkey")), 1).otherwise(0)


def expected_fail_until(keys: np.ndarray) -> np.ndarray:
    return np.where(failing_key(keys), 1, 0)


def configure_jdbc(pipe, base: str, tag: str) -> None:
    from dbsync_spark.sinks.jdbc import JdbcTable, sqlite_connect_factory

    db = os.path.join(base, "target.sqlite")
    with sqlite3.connect(db) as c:
        c.execute(_ORDERS_DDL)
    c.close()
    pipe.target = JdbcTable("postgresql", "", "main", "orders",
                            list(gen.ORDERS_KEYS),
                            connect=sqlite_connect_factory(db),
                            pool_name=f"perfbench-{tag}", n_writers=1)
    pipe.failure_policy = failure_policy


def sqlite_rows(db: str) -> pa.Table:
    names = list(gen.ORDERS_COLS)
    with sqlite3.connect(db) as c:
        rows = c.execute(f'SELECT {", ".join(names)} FROM "orders"').fetchall()
    c.close()
    return pa.table({n: [r[i] for r in rows] for i, n in enumerate(names)})


def expected_retry(con, file_batch: dict[str, int], files: list[str]) -> dict:
    """Reference-model ERR/BLK counts for the batches the checkpoint
    records (oracle.simulate_retry)."""
    batches = []
    for b in sorted({file_batch[os.path.basename(f)] for f in files}):
        members = [f for f in files if file_batch[os.path.basename(f)] == b]
        ids, keys = con.execute(
            "SELECT list(id ORDER BY id), list(CAST(json_extract_string("
            "data, '$.o_orderkey') AS BIGINT) ORDER BY id) "
            "FROM read_parquet(?)", [members]).fetchone()
        ids, keys = np.array(ids), np.array(keys)
        batches.append((ids, keys, expected_fail_until(keys)))
    return oracle.simulate_retry(batches)


def finish_jdbc(rnd: Round, pipe, con, files: list[str], db: str) -> None:
    """Row count and oracle check for the SQLite JdbcTable target; the
    ERR/BLK ack counts must equal the reference model's exactly."""
    got = sqlite_rows(db)
    rnd.jdbc_rows = got.num_rows
    status = parquet_files(pipe.status_path)
    rnd.failed, bad_keys = oracle.failed_changes(
        con, got, gen.ORDERS_COLS, gen.ORDERS_KEYS, status)
    acks = oracle.ack_counts(status)
    rnd.err_rows, rnd.blk_rows = acks.get("ERR", 0), acks.get("BLK", 0)
    file_batch, _ = checkpoint_batches(pipe.checkpoint_path)
    expect = expected_retry(con, file_batch, files)
    # any difference from the model is failed work, never dropped
    rnd.failed += (abs(rnd.err_rows - expect["err_rows"])
                   + abs(rnd.blk_rows - expect["blk_rows"]))
    rnd.check = {"bad_keys": bad_keys, "rows": got.num_rows,
                 "expect": expect}


def flaky_target(ctx: Ctx) -> dict:
    t = time.time()
    log = gen.orders_log(ctx.seed, FLAKY_ORDERS)
    files = gen.write_files(log.table_arrow(gen.CREATE_TIME_US),
                            os.path.join(ctx.work, "staging"),
                            FLAKY_FILES, "orders")
    stamp_mtimes(files)
    con = oracle_for(files, gen.ORDERS_COLS, gen.ORDERS_KEYS)
    gen_s = time.time() - t

    t = time.time()
    closed_round(ctx, "warm", files[:WARM_FLAKY_FILES], "orders",
                 gen.ORDERS_COLS, gen.ORDERS_KEYS, WARM_FLAKY_FILES // 2,
                 configure_jdbc, monitor=True)
    warm_s = time.time() - t
    setup_cpu_s = cpu_seconds()

    ctx.timed_start()
    rnd, pipe = closed_round(
        ctx, "timed", files, "orders", gen.ORDERS_COLS, gen.ORDERS_KEYS,
        FLAKY_FILES_PER_BATCH, configure_jdbc, monitor=True)
    finish_jdbc(rnd, pipe, con, files,
                os.path.join(ctx.work, "timed", "target.sqlite"))
    con.close()
    return {"round": rnd, "gen_s": gen_s, "warm_s": warm_s,
            "setup_cpu_s": setup_cpu_s, "files": files,
            "cols": gen.ORDERS_COLS, "keys": gen.ORDERS_KEYS}


WORKLOADS = {"replica": replica, "flaky_target": flaky_target}
