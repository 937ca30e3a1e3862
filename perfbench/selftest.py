"""Self-test of the benchmark's correctness gate: a small catch-up round
into a BucketedTable and a small flaky round into a SQLite JdbcTable must
pass the oracle with zero failed changes; after one target row is tampered
with, the gate must count exactly the landed changes of that row's key.

    python3 perfbench/selftest.py      # from the repository root

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import glob
import os
import shutil
import sqlite3
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import run
import workloads as w


def changes_of_key(con, where: str) -> int:
    return con.execute(f"SELECT count(*) FROM log WHERE {where}").fetchone()[0]


def tamper_bucketed(data_path: str) -> tuple[int, int]:
    """Change l_quantity of one live, updated row (an order key divisible
    by 5 has an insert and an update) in one bucket file; returns the
    row's key (l_orderkey, l_linenumber)."""
    path = sorted(glob.glob(os.path.join(data_path, "*", "*.parquet")))[0]
    t = pq.read_table(path)
    updated = pc.and_(pc.invert(t["_deleted"]),
                      pc.equal(pc.multiply(pc.divide(t["l_orderkey"], 5), 5),
                               t["l_orderkey"]))
    i = pc.index(updated, True).as_py()
    key = (t["l_orderkey"][i].as_py(), t["l_linenumber"][i].as_py())
    qty = t["l_quantity"].to_pylist()
    qty[i] += 1000.0
    t = t.set_column(t.schema.get_field_index("l_quantity"), "l_quantity",
                     [qty])
    pq.write_table(t, path)
    # drop Hadoop's checksum sibling, or the read fails before any compare
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return key


def main() -> int:
    work = os.path.join(os.getcwd(), ".perfbench_work", f"selftest-{os.getpid()}")
    spark, _ = run.start_session(work)
    ctx = w.Ctx(spark, work, 7, 1.0)
    checks: list[tuple[str, bool, str]] = []
    try:
        # BucketedTable: clean round, then one tampered row
        log = gen.catchup_log(ctx.seed, 400)
        files = gen.write_files(log.table_arrow(gen.CREATE_TIME_US),
                                os.path.join(work, "c-staging"), 4, "c")
        w.stamp_mtimes(files)
        con = w.oracle_for(files, gen.LINEITEM_COLS, gen.LINEITEM_KEYS)
        rnd, pipe = w.closed_round(ctx, "c", files, "lineitem",
                                   gen.LINEITEM_COLS, gen.LINEITEM_KEYS, 2)
        w.finish_bucketed(ctx, rnd, pipe, con, gen.LINEITEM_COLS,
                          gen.LINEITEM_KEYS)
        checks.append(("bucketed clean round", rnd.failed == 0,
                       f"failed={rnd.failed}"))
        ok, ln = tamper_bucketed(pipe.target.data_path)
        want = changes_of_key(con, f"l_orderkey = {ok} AND l_linenumber = {ln}")
        w.finish_bucketed(ctx, rnd, pipe, con, gen.LINEITEM_COLS,
                          gen.LINEITEM_KEYS)
        checks.append(("bucketed tampered row counted",
                       rnd.failed == want and want > 0,
                       f"failed={rnd.failed} want={want}"))
        con.close()

        # JdbcTable over SQLite with the failure policy: clean, then tampered
        log = gen.orders_log(ctx.seed, 600)
        files = gen.write_files(log.table_arrow(gen.CREATE_TIME_US),
                                os.path.join(work, "f-staging"), 6, "f")
        w.stamp_mtimes(files)
        con = w.oracle_for(files, gen.ORDERS_COLS, gen.ORDERS_KEYS)
        rnd, pipe = w.closed_round(ctx, "f", files, "orders",
                                   gen.ORDERS_COLS, gen.ORDERS_KEYS, 3,
                                   w.configure_jdbc)
        db = os.path.join(work, "f", "target.sqlite")
        w.finish_jdbc(rnd, pipe, con, files, db)
        checks.append(("jdbc clean round", rnd.failed == 0 and rnd.err_rows > 0,
                       f"failed={rnd.failed} err_rows={rnd.err_rows}"))
        with sqlite3.connect(db) as c:
            key = c.execute('SELECT min(o_orderkey) FROM "orders" '
                            "WHERE o_orderkey % 5 = 0").fetchone()[0]
            c.execute('UPDATE "orders" SET o_totalprice = o_totalprice + 1 '
                      "WHERE o_orderkey = ?", (key,))
        c.close()
        want = changes_of_key(con, f"o_orderkey = {key}")
        w.finish_jdbc(rnd, pipe, con, files, db)
        checks.append(("jdbc tampered row counted",
                       rnd.failed == want and want > 0,
                       f"failed={rnd.failed} want={want}"))
        con.close()
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for name, passed, detail in checks:
        print(f"{'PASS' if passed else 'FAIL'}  {name}  ({detail})")
    return 0 if checks and all(p for _, p, _ in checks) else 1


if __name__ == "__main__":
    sys.exit(main())
