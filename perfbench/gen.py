"""Deterministic benchmark inputs: change-log files in the engine's
sync_data shape, generated from a seed with NumPy and written with pyarrow.

Every generator is a pure function of its arguments, so the same seed gives
byte-identical payloads. The engine only ever sees the parquet files; the
DuckDB oracle (oracle.py) replays the same files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LOG_SCHEMA = pa.schema([
    pa.field("id", pa.int64(), nullable=False),
    pa.field("sourceDb", pa.string(), nullable=False),
    pa.field("targetDb", pa.string(), nullable=False),
    pa.field("schema", pa.string(), nullable=False),
    pa.field("table", pa.string(), nullable=False),
    pa.field("operation", pa.string(), nullable=False),
    pa.field("data", pa.string()),
    pa.field("createTime", pa.timestamp("us", tz="UTC")),
])

# payload column -> (Spark DDL type, DuckDB type)
LINEITEM_COLS = {
    "l_orderkey": ("BIGINT", "BIGINT"),
    "l_linenumber": ("INT", "INTEGER"),
    "l_partkey": ("BIGINT", "BIGINT"),
    "l_suppkey": ("BIGINT", "BIGINT"),
    "l_quantity": ("DOUBLE", "DOUBLE"),
    "l_extendedprice": ("DOUBLE", "DOUBLE"),
    "l_discount": ("DOUBLE", "DOUBLE"),
    "l_tax": ("DOUBLE", "DOUBLE"),
    "l_returnflag": ("STRING", "VARCHAR"),
    "l_linestatus": ("STRING", "VARCHAR"),
    "l_shipdate": ("DATE", "DATE"),
    "l_commitdate": ("DATE", "DATE"),
    "l_shipmode": ("STRING", "VARCHAR"),
    "l_comment": ("STRING", "VARCHAR"),
}
LINEITEM_KEYS = ("l_orderkey", "l_linenumber")

# o_orderdate is a STRING so rows bind into sqlite3 without adapters
ORDERS_COLS = {
    "o_orderkey": ("BIGINT", "BIGINT"),
    "o_custkey": ("BIGINT", "BIGINT"),
    "o_orderstatus": ("STRING", "VARCHAR"),
    "o_totalprice": ("DOUBLE", "DOUBLE"),
    "o_orderdate": ("STRING", "VARCHAR"),
    "o_orderpriority": ("STRING", "VARCHAR"),
}
ORDERS_KEYS = ("o_orderkey",)

_EPOCH_DAY_1992 = 8035  # 1992-01-01
_MODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
_PRIOS = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_WORDS = np.array(["quick", "final", "bold", "ironic", "pending", "regular",
                   "express", "careful", "silent", "even", "fluffy", "blithe"])


def payload_ddl(cols: dict) -> str:
    return ", ".join(f"{c} {t[0]}" for c, t in cols.items())


def _dates(days: np.ndarray) -> np.ndarray:
    return (np.datetime64("1970-01-01") + days.astype("timedelta64[D]")).astype(str)


def _cents(x: np.ndarray) -> np.ndarray:
    """Two-decimal doubles that print and parse identically in every
    engine: Python's repr of round(x, 2) is the shortest round-trip form."""
    return np.round(x, 2)


def lineitem_rows(rng: np.random.Generator, orderkeys: np.ndarray,
                  version: int = 0) -> dict[str, np.ndarray]:
    """Full row images for every line of `orderkeys` (1-7 lines each,
    line count a pure function of the key). `version` varies the non-key
    columns so an update image differs from the insert image."""
    lines = (orderkeys * 2654435761 % 7 + 1).astype(np.int64)
    ok = np.repeat(orderkeys, lines)
    starts = np.cumsum(lines) - lines
    ln = np.arange(len(ok)) - np.repeat(starts, lines) + 1
    n = len(ok)
    ship = _EPOCH_DAY_1992 + (ok * 7 % 2400) + rng.integers(0, 120, n)
    qty = rng.integers(1, 51, n).astype(np.float64) + version
    return {
        "l_orderkey": ok,
        "l_linenumber": ln,
        "l_partkey": rng.integers(1, 20000, n),
        "l_suppkey": rng.integers(1, 1000, n),
        "l_quantity": qty,
        "l_extendedprice": _cents(qty * rng.uniform(900.0, 2100.0, n)),
        "l_discount": _cents(rng.integers(0, 11, n) / 100.0),
        "l_tax": _cents(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": _dates(ship),
        "l_commitdate": _dates(ship + rng.integers(-30, 60, n)),
        "l_shipmode": rng.choice(_MODES, n),
        "l_comment": np.char.add(np.char.add(rng.choice(_WORDS, n), " "),
                                 rng.choice(_WORDS, n)),
    }


def orders_rows(rng: np.random.Generator, orderkeys: np.ndarray,
                version: int = 0) -> dict[str, np.ndarray]:
    n = len(orderkeys)
    return {
        "o_orderkey": orderkeys,
        "o_custkey": rng.integers(1, 15000, n),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n),
        "o_totalprice": _cents(rng.uniform(900.0, 500000.0, n) + version),
        "o_orderdate": _dates(_EPOCH_DAY_1992 + orderkeys * 3 % 2400),
        "o_orderpriority": rng.choice(_PRIOS, n),
    }


def _json_rows(cols: dict, rows: dict[str, np.ndarray]) -> list[str]:
    names = list(cols)
    lists = [rows[c].tolist() for c in names]
    return [json.dumps(dict(zip(names, vals)), separators=(",", ":"))
            for vals in zip(*lists)]


class ChangeLog:
    """An append-only batch of changes for one table: parallel arrays of
    id, operation and JSON row image, ordered by id."""

    def __init__(self, table: str, cols: dict, keys: tuple[str, ...]):
        self.table, self.cols, self.keys = table, cols, keys
        self.ids: list[np.ndarray] = []
        self.ops: list[np.ndarray] = []
        self.data: list[list[str]] = []

    def add(self, op: str, first_id: int, rows: dict[str, np.ndarray]) -> int:
        n = len(rows[self.keys[0]])
        self.ids.append(np.arange(first_id, first_id + n, dtype=np.int64))
        self.ops.append(np.full(n, op))
        self.data.append(_json_rows(self.cols, rows))
        return first_id + n

    def table_arrow(self, start_us: int) -> pa.Table:
        ids = np.concatenate(self.ids)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        data = [d for part in self.data for d in part]
        n = len(ids)
        return pa.table({
            "id": ids,
            "sourceDb": pa.array(["db1"] * n),
            "targetDb": pa.array(["t1"] * n),
            "schema": pa.array(["public"] * n),
            "table": pa.array([self.table] * n),
            "operation": pa.array(np.concatenate(self.ops)[order]),
            "data": pa.array([data[i] for i in order]),
            "createTime": pa.array(start_us + ids, pa.timestamp("us", tz="UTC")),
        }, schema=LOG_SCHEMA)


def write_files(table: pa.Table, out_dir: str, n_files: int,
                prefix: str) -> list[str]:
    """Split an id-ordered log into `n_files` id-contiguous parquet files;
    returns their paths in id order."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        path = os.path.join(out_dir, f"{prefix}-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        paths.append(path)
    return paths


# createTime base: 2020-01-01 in microseconds (all rows are "old", so a
# retention pass with a cutoff at the current time finds every file expired)
CREATE_TIME_US = 1577836800 * 1_000_000


def catchup_log(seed: int, n_orders: int) -> ChangeLog:
    """The bench-log shape over lineitem: I for every line, U for orders
    with key % 5 == 0, D for key % 17 == 0; ids monotone I < U < D."""
    rng = np.random.default_rng([seed, 1])
    keys = np.arange(1, n_orders + 1, dtype=np.int64)
    log = ChangeLog("lineitem", LINEITEM_COLS, LINEITEM_KEYS)
    nxt = log.add("I", 1, lineitem_rows(rng, keys))
    nxt = log.add("U", nxt, lineitem_rows(rng, keys[keys % 5 == 0], 1))
    log.add("D", nxt, lineitem_rows(rng, keys[keys % 17 == 0], 2))
    return log


def _rows_slice(rows: dict[str, np.ndarray], lo: int, hi: int) -> dict:
    return {k: v[lo:hi] for k, v in rows.items()}


def trickle_files(seed: int, first_id: int, n_orders: int, n_files: int,
                  changes_per_file: int) -> list[ChangeLog]:
    """Per-file trickle logs over a lineitem table of orders 1..n_orders,
    ids from `first_id` on. Each file holds exactly `changes_per_file`
    changes: 80% updates and 10% deletes of lines of existing orders,
    skewed toward the most recent orders, and 10% inserts of lines of new
    orders."""
    rng = np.random.default_rng([seed, 2])
    n_ins = n_del = changes_per_file // 10
    n_upd = changes_per_file - n_ins - n_del
    nxt, newest = first_id, n_orders
    files = []
    for _ in range(n_files):
        log = ChangeLog("lineitem", LINEITEM_COLS, LINEITEM_KEYS)
        new_keys = np.arange(newest + 1, newest + 1 + n_ins, dtype=np.int64)
        newest += n_ins
        age = rng.exponential(n_orders / 8, n_upd + n_del)
        old = np.unique(np.clip(newest - age.astype(np.int64), 1, newest))
        rows = lineitem_rows(rng, old, 3)
        nxt = log.add("I", nxt, _rows_slice(lineitem_rows(rng, new_keys),
                                            0, n_ins))
        nxt = log.add("U", nxt, _rows_slice(rows, 0, n_upd))
        nxt = log.add("D", nxt, _rows_slice(rows, n_upd, n_upd + n_del))
        files.append(log)
    return files


def orders_log(seed: int, n_orders: int) -> ChangeLog:
    """The orders I/U/D log shape: I per order, U for key % 5 == 0,
    D for key % 17 == 0; ids rank, N + rank, 2N + rank."""
    rng = np.random.default_rng([seed, 3])
    keys = np.arange(1, n_orders + 1, dtype=np.int64)
    log = ChangeLog("orders", ORDERS_COLS, ORDERS_KEYS)
    log.add("I", 1, orders_rows(rng, keys))
    upd = keys[keys % 5 == 0]
    log.add("U", n_orders + 1, orders_rows(rng, upd, 1))
    dele = keys[keys % 17 == 0]
    log.add("D", 2 * n_orders + 1, orders_rows(rng, dele, 2))
    return log
