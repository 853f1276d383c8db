"""Self-tests for the benchmark itself.

Usage (from the repository root):

    python3 perfbench/selftest.py          # generators and checkers, ~20 s
    python3 perfbench/selftest.py --full   # plus one traced and one plain
                                           # run per workload, ~5 min

* The generators give the same bytes for the same seed and other bytes
  for another seed.
* The checkers accept a correct output and reject a corrupted one.
* ``--full``: every metric named in BENCHMARK.json is emitted, each
  per-layer metric by some workload's traced iterations or by the run
  itself, and every run is correct.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402


def digest(d: str) -> dict:
    out = {}
    for p in sorted(glob.glob(os.path.join(d, "*"))):
        with open(p, "rb") as fh:
            out[os.path.basename(p)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_determinism(tmp: str) -> None:
    makers = {
        "etl": lambda d, s: gen.etl_source(d, s, 2_000, n_merchants=1_200),
        "tables": lambda d, s: gen.operator_tables(d, s, 0.001, 200, 100),
    }
    for name, make in makers.items():
        a, b, c = (os.path.join(tmp, f"{name}-{k}") for k in "abc")
        make(a, 7)
        make(b, 7)
        make(c, 8)
        assert digest(a) == digest(b), f"{name}: same seed, different bytes"
        assert digest(a) != digest(c), f"{name}: another seed, same bytes"
    truth = json.load(open(os.path.join(tmp, "etl-a", "truth.json")))
    sizes = truth["dictionary_sizes"]
    assert sizes["merchant"] > 1000 >= sizes["expenseaccountname"], sizes
    print("ok  generators are deterministic per seed")


def write_sink(sink: str, truth: dict) -> None:
    """A sink that matches the truth: every table has the distinct row
    count, and the translated columns carry the expected values."""
    n = truth["distinct_rows"]
    cols = {}
    for key, counts in truth["value_counts"].items():
        values = [None if v == "\x00NULL" else v
                  for v, c in sorted(counts.items()) for _ in range(c)]
        cols.setdefault(key.split(".")[0], {})[key.split(".")[1]] = values
    for table in truth["tables"]:
        data = cols.get(table, {"id": list(range(n))})
        os.makedirs(os.path.join(sink, table))
        pq.write_table(pa.table(data), os.path.join(sink, table, "part-0.parquet"))


def test_etl_checker(tmp: str) -> None:
    src = os.path.join(tmp, "etl-a")
    truth = json.load(open(os.path.join(src, "truth.json")))
    report = {"translated_columns": ["expenseaccountname", "merchant"]}
    sink = os.path.join(tmp, "sink")
    write_sink(sink, truth)
    assert check.check_etl(sink, truth, report) == []
    # one translated value replaced by its untranslated source
    path = os.path.join(sink, "DIM_ActivityCategory", "part-0.parquet")
    tbl = pq.read_table(path)
    vals = tbl.column("expenseaccountname").to_pylist()
    i = next(k for k, v in enumerate(vals) if v == "Hotel Abroad")
    vals[i] = "Hotel Ausland"
    pq.write_table(pa.table({"expenseaccountname": vals}), path)
    assert check.check_etl(sink, truth, report), "corrupted value accepted"
    write_sink(os.path.join(tmp, "sink2"), truth)
    shutil.rmtree(os.path.join(tmp, "sink2", "DIM_Date"))
    assert check.check_etl(os.path.join(tmp, "sink2"), truth, report), \
        "missing table accepted"
    assert check.check_etl(sink, truth, {"translated_columns": ["merchant"]}), \
        "missing translated column accepted"
    print("ok  etl checker rejects corrupted sinks")


def test_oracle_checker(tmp: str) -> None:
    import duckdb
    data = os.path.join(tmp, "tables-a")
    sql = ("WITH t AS (SELECT n_regionkey, count(*) AS n FROM nation "
           "GROUP BY n_regionkey) SELECT r_name, n FROM region "
           "JOIN t ON r_regionkey = n_regionkey ORDER BY r_name")
    dumps = os.path.join(tmp, "dumps")
    os.makedirs(os.path.join(dumps, "good"))
    con = duckdb.connect()
    for t in ("region", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    tbl = con.sql(sql).arrow()
    pq.write_table(tbl, os.path.join(dumps, "good", "part-0.parquet"))
    os.makedirs(os.path.join(dumps, "bad"))
    n = tbl.column("n").to_pylist()
    n[0] += 1
    pq.write_table(tbl.set_column(1, "n", pa.array(n, type=tbl.schema.field("n").type)),
                   os.path.join(dumps, "bad", "part-0.parquet"))
    root = os.path.dirname(HERE)
    oracle = {"good": sql, "bad": sql}
    assert check.check_oracle(root, data, dumps, oracle, ["good"]) == []
    assert check.check_oracle(root, data, dumps, oracle, ["bad"]), \
        "corrupted dump accepted"
    assert check.check_oracle(root, data, dumps, oracle, ["absent"]), \
        "missing dump accepted"
    assert "MATERIALIZED" in check.materialized(sql)
    print("ok  oracle checker rejects corrupted dumps")


def test_full() -> None:
    """One plain and one traced run per workload through the real command."""
    spec = json.load(open("BENCHMARK.json"))
    e2e = {m["name"] for m in spec["end_to_end"]}
    layers = {m["name"] for m in spec["per_layer"]}
    emitted = set()
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            env = dict(os.environ, PERFBENCH_KEEP="1")
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", "11", "--seconds", "1", "--trace", str(trace)],
                stdout=subprocess.PIPE, text=True, env=env, check=True)
            res = json.loads(out.stdout.strip().splitlines()[-1])
            assert res["correct"] and res["failed"] == 0, (w, trace, res)
            assert set(res["metrics"]) == (layers if trace else e2e), (w, trace)
            for v in res["metrics"].values():
                assert isinstance(v["value"], (int, float)), (w, v)
            if trace:
                runs = glob.glob(os.path.join(".bench_build", "runs", f"{w}-11-*"))
                newest = max(runs, key=os.path.getmtime)
                raw = json.load(open(os.path.join(newest, "out", "result.json")))
                for it in raw["iterations"]:
                    emitted |= set(it["layers"])
                shutil.rmtree(newest)
            else:
                for d in glob.glob(os.path.join(".bench_build", "runs", f"{w}-11-*")):
                    shutil.rmtree(d)
            print(f"ok  {w} trace={trace}: correct, all metrics present")
    missing = layers - emitted - set(run.RUN_LEVEL_METRICS)
    assert not missing, f"per-layer metrics no workload emits: {sorted(missing)}"
    print("ok  every per-layer metric is emitted by some workload")


def main() -> int:
    tmp = os.path.join(".bench_build", "selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        test_determinism(tmp)
        test_etl_checker(tmp)
        test_oracle_checker(tmp)
        if "--full" in sys.argv:
            test_full()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
