"""Output checks, run after the timed window.

* ``etl_star`` outputs are checked against the generator's truth: the row
  count of every destination table, the value counts of both translated
  columns (dictionary lookup with identity fallback) and the report's
  ``translatedColumns``.
* ``operator_mix`` dumps are checked against
  ``SparkEntry.oracleSql`` run by DuckDB over the same inputs, through the
  comparison in ``tools/check_oracle.py``.

Each function returns the list of failed checks as readable strings.
"""
import collections
import concurrent.futures
import contextlib
import glob
import importlib.util
import os
import re
import sys

import pyarrow.parquet as pq


def _read_dir(path: str):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pq.ParquetDataset(files).read()


def check_etl(sink_dir: str, truth: dict, report) -> list:
    failures = []
    if report is None:
        return ["etl: no translate report (EP2 did not run)"]
    for col in truth["translated_columns"]:
        if col not in report.get("translated_columns", []):
            failures.append(f"etl: {col} missing from translatedColumns "
                            f"{report.get('translated_columns')}")
    tables = {}
    for name in truth["tables"]:
        tbl = _read_dir(os.path.join(sink_dir, name))
        if tbl is None:
            failures.append(f"etl: destination table {name} was not written")
            continue
        tables[name] = tbl
        if tbl.num_rows != truth["distinct_rows"]:
            failures.append(f"etl: {name} has {tbl.num_rows} rows, "
                            f"expected {truth['distinct_rows']}")
    for key, expected in truth["value_counts"].items():
        name, col = key.split(".")
        if name not in tables:
            continue
        if col not in tables[name].column_names:
            failures.append(f"etl: {key} column missing")
            continue
        got = collections.Counter(
            "\x00NULL" if v is None else v
            for v in tables[name].column(col).to_pylist())
        if got != collections.Counter(expected):
            diff = (got - collections.Counter(expected)) or \
                (collections.Counter(expected) - got)
            sample = list(diff.items())[:3]
            failures.append(f"etl: {key} values differ from dictionary "
                            f"lookup with identity fallback, e.g. {sample}")
    return failures


def _oracle_module(root: str):
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_CTE = re.compile(r"(\b[A-Za-z_][A-Za-z0-9_]*) AS \(")


def materialized(sql: str) -> str:
    """The oracle with every named CTE marked MATERIALIZED. DuckDB
    otherwise re-evaluates a CTE at each reference, and inside a recursive
    CTE at each iteration: pipe1's oracle drops from about 50 s to 2 s on
    500 documents. Materializing changes how, not what, DuckDB computes."""
    return _CTE.sub(r"\1 AS MATERIALIZED (", sql)


def _oracle_result(con, sql: str):
    try:
        return con.sql(materialized(sql)).arrow()
    except Exception:  # noqa: BLE001 - a CTE DuckDB will not materialize
        return con.sql(sql).arrow()


def check_oracle(root: str, data_dir: str, dump_dir: str,
                 oracle_sql: dict, names: list) -> list:
    """Compares each named dump with its oracle result, four at a time
    (the text oracles' regex scoring runs mostly on one DuckDB thread).
    The comparison's PASS/FAIL lines go to stderr, keeping stdout for the
    result line."""
    import duckdb
    mod = _oracle_module(root)
    con = duckdb.connect()
    for tbl in mod.TABLES:
        path = os.path.join(data_dir, f"{tbl}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{path}')")

    def one(name: str):
        files = sorted(glob.glob(os.path.join(dump_dir, name, "*.parquet")))
        if not files:
            return f"{name}: no output dump"
        if name not in oracle_sql:
            return f"{name}: no oracle SQL"
        cur = con.cursor()
        cur.execute("SET TimeZone='UTC'")
        try:
            spark_tbl = cur.sql(f"SELECT * FROM read_parquet({files!r})").arrow()
            duck_tbl = _oracle_result(cur, oracle_sql[name])
        except Exception as exc:  # noqa: BLE001 - any error fails the check
            return f"{name}: oracle or dump unreadable: {exc}"
        return (spark_tbl, duck_tbl)

    failures = []
    with concurrent.futures.ThreadPoolExecutor(4) as pool:
        results = list(pool.map(one, names))
    with contextlib.redirect_stdout(sys.stderr):
        for name, res in zip(names, results):
            if isinstance(res, str):
                print(f"FAIL {res}")
                failures.append(res)
            elif not mod.compare(name, *res):
                failures.append(f"{name}: result differs from the oracle")
    return failures
