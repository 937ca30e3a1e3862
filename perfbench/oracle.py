"""Correctness gate: DuckDB replays exactly the landed log files and the
benchmark compares the engine's target and acks against that replay.

A change counts as failed when its key's final target row differs from
the last-writer-wins replay (missing, extra, or any column different), or
when its id does not end with a current status of OK. Nothing is dropped:
every mismatch shows up in the failed count.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa


def _typed_payload(cols: dict) -> str:
    return ", ".join(
        f"CAST(json_extract_string(data, '$.{c}') AS {t[1]}) AS {c}"
        for c, t in cols.items())


def load_log(con, files: list[str], cols: dict) -> None:
    """Table `log`: one row per landed change, payload decoded by DuckDB."""
    con.execute(
        f"CREATE OR REPLACE TABLE log AS SELECT id, operation, "
        f"{_typed_payload(cols)} FROM read_parquet(?)", [files])


def expected_rows(con, cols: dict, keys: tuple[str, ...]) -> None:
    """Table `expected`: last-writer-wins replay of `log` (max id per key
    wins; a winning D removes the key)."""
    k = ", ".join(keys)
    names = ", ".join(cols)
    con.execute(
        f"CREATE OR REPLACE TABLE expected AS SELECT {names} FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {k} ORDER BY id DESC) rn "
        f"FROM log) WHERE rn = 1 AND operation <> 'D'")


def failed_changes(con, got: pa.Table, cols: dict, keys: tuple[str, ...],
                   status_files: list[str]) -> tuple[int, int]:
    """(failed changes, mismatched keys) for target rows `got` and the
    ack files `status_files`, against `log`/`expected`."""
    con.register("got_arrow", got)
    con.execute("CREATE OR REPLACE TABLE got AS SELECT "
                + ", ".join(f"CAST({c} AS {t[1]}) AS {c}" for c, t in cols.items())
                + " FROM got_arrow")
    con.unregister("got_arrow")
    on = " AND ".join(f"e.{c} = g.{c}" for c in keys)
    diff = " OR ".join(f"e.{c} IS DISTINCT FROM g.{c}" for c in cols)
    key_sel = ", ".join(f"coalesce(e.{c}, g.{c}) AS {c}" for c in keys)
    con.execute(
        f"CREATE OR REPLACE TABLE bad_keys AS SELECT DISTINCT {key_sel} "
        f"FROM expected e FULL OUTER JOIN got g ON {on} WHERE {diff}")
    n_bad_keys = con.execute("SELECT count(*) FROM bad_keys").fetchone()[0]
    if status_files:
        con.execute(
            "CREATE OR REPLACE TABLE cur AS SELECT dataId, status FROM ("
            "SELECT dataId, status, row_number() OVER (PARTITION BY dataId "
            "ORDER BY createTime DESC, retry DESC) rn FROM read_parquet(?)) "
            "WHERE rn = 1", [status_files])
    else:
        con.execute("CREATE OR REPLACE TABLE cur (dataId BIGINT, status VARCHAR)")
    kj = " AND ".join(f"l.{c} = b.{c}" for c in keys)
    failed = con.execute(
        f"SELECT count(*) FROM log l LEFT JOIN cur c ON l.id = c.dataId "
        f"WHERE c.status IS DISTINCT FROM 'OK' "
        f"OR EXISTS (SELECT 1 FROM bad_keys b WHERE {kj})").fetchone()[0]
    return int(failed), int(n_bad_keys)


def ack_counts(status_files: list[str]) -> dict[str, int]:
    """Ack rows written per status (every attempt, not just the current)."""
    if not status_files:
        return {}
    rows = duckdb.sql(
        "SELECT status, count(*) FROM read_parquet(?) GROUP BY status",
        params=[status_files]).fetchall()
    return {s: int(n) for s, n in rows}


def simulate_retry(batches: list[tuple[np.ndarray, np.ndarray, np.ndarray]]
                   ) -> dict[str, int]:
    """Reference model of the ERR/BLK state machine (operators/retry.py)
    for a pipeline with one in-batch pass followed by resolver ticks.

    `batches` holds (ids, keys, fail_until) per micro-batch. A pass
    groups rows by key in id order: rows before the first failing row
    (tries < fail_until) land OK, that row acks ERR with tries + 1, the
    rest ack BLK. Each tick re-runs one pass over every id whose latest
    ack is ERR or BLK, seeded with its persisted tries. Returns ack row
    counts per status, resolver ticks (including the final one that finds
    nothing) and passes."""
    acks = {"OK": 0, "ERR": 0, "BLK": 0}
    latest: dict[int, tuple[str, int, int, int]] = {}  # id -> status, tries, key, fail_until

    def run_pass(rows: list[tuple[int, int, int, int]]) -> None:
        by_key: dict[int, list] = {}
        for r in sorted(rows):
            by_key.setdefault(r[1], []).append(r)
        for group in by_key.values():
            failing = False
            for rid, key, tries, fail_until in group:
                if failing:
                    st = "BLK"
                elif tries < fail_until:
                    st, tries, failing = "ERR", tries + 1, True
                else:
                    st = "OK"
                acks[st] += 1
                latest[rid] = (st, tries, key, fail_until)

    passes = 0
    for ids, keys, fail_until in batches:
        run_pass([(int(i), int(k), 0, int(f))
                  for i, k, f in zip(ids, keys, fail_until)])
        passes += 1
    ticks = 0
    while True:
        ticks += 1
        pending = [(rid, key, tries, fu) for rid, (st, tries, key, fu)
                   in latest.items() if st != "OK"]
        if not pending:
            break
        run_pass(pending)
        passes += 1
    return {"ok_rows": acks["OK"], "err_rows": acks["ERR"],
            "blk_rows": acks["BLK"], "ticks": ticks, "passes": passes}
