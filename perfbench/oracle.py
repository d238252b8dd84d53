"""Correctness gate: compare each query's output with the DuckDB oracle.

The harness writes every workload query's warm-pass output as parquet,
together with `SparkEntry.oracleSql`. This module runs the oracle SQL over
the same input and compares the two with the rules of `tools/check.py`
(sorted columns, sorted rows, type-sensitive values), calling its
functions unchanged, and grades each query as it does. A query whose
oracle does not finish within the budget is reported as unverified by
name.
"""
import glob
import os
import sys
import threading

import duckdb
import pyarrow.parquet as pq


def _check_module(root):
    sys.path.insert(0, os.path.join(root, "tools"))
    import check
    return check


def verify(root, input_dir, dump_dir, queries, oracle_sql, budget_s=60.0):
    """{query: {"status": "pass" | "fail" | "unverified", "note": str}}, with
    the outcomes of `tools/check.py`: a query with no output, with an
    output pandas cannot sort, with no oracle SQL, or whose oracle SQL
    fails, fails; only an oracle that runs out of budget is unverified."""
    check = _check_module(root)
    con = duckdb.connect()
    for t in check.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    out = {}
    for q in queries:
        out[q] = _verify_one(check, con, q, glob.glob(f"{dump_dir}/{q}/*.parquet"),
                             oracle_sql.get(q), budget_s)
    return out


def _verify_one(check, con, q, files, sql, budget_s):
    fail = lambda note: {"status": "fail", "note": note}  # noqa: E731
    if not files:
        return fail("no output written")
    try:
        got_cols, got = check.frame(pq.read_table(files).to_pandas())
    except Exception as e:
        return fail(f"spark-side pandas error: {type(e).__name__}: {e}")
    if sql is None:
        return fail(f"no oracle SQL ({len(got)} rows); tools/check.py grades this as an error")
    timer = threading.Timer(budget_s, con.interrupt)
    timer.start()
    try:
        exp_cols, exp = check.frame(con.sql(sql).df())
    except duckdb.InterruptException:
        return {"status": "unverified", "note": f"oracle exceeded {budget_s:.0f} s"}
    except Exception as e:
        return fail(f"oracle error: {type(e).__name__}: {e}")
    finally:
        timer.cancel()
    if got_cols != exp_cols:
        return fail(f"columns {got_cols} != {exp_cols}")
    if got != exp:
        return fail(f"{len(got)} rows differ from the oracle's {len(exp)}")
    return {"status": "pass", "note": f"{len(got)} rows"}
