"""The repository benchmark: one command, two seeded workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_star --seed 1 --seconds 10 --trace 0

It builds the engine from source (``perfbench/build.py``), generates the
workload's inputs from the seed (``perfbench/gen.py``), runs the JVM
program (``perfbench/scala/perfbench/Main.scala``), checks the outputs
(``perfbench/check.py``) and prints one JSON line: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Metric names,
units and bounds live in ``BENCHMARK.json``; ``perfbench/README.md``
defines each one.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

TIME_LIMIT_S = 170
# Input sizes, fixed per workload so that every seed measures the same
# amount of work.
ETL_ROWS = 12_000
MIX_SF, MIX_DOCS, MIX_EMB = 0.01, 500, 500
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def generate(workload: str, seed: int, data: str) -> tuple:
    """Writes the inputs; returns (truth, input rows)."""
    if workload == "etl_star":
        truth = gen.etl_source(data, seed, ETL_ROWS)
        return truth, truth["input_rows"]
    if workload == "operator_mix":
        truth = gen.operator_tables(data, seed, MIX_SF, MIX_DOCS, MIX_EMB)
        return truth, sum(truth["rows"].values())
    raise SystemExit(f"unknown workload {workload}")


def run_jvm(classpath: str, args: argparse.Namespace, data: str, out: str,
            work: str, deadline: float) -> dict:
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.sql.session.timeZone=UTC"]
    for m in JVM_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--data", data, "--out", out,
            "--seconds", str(args.seconds), "--trace", str(args.trace)]
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("benchmark JVM exceeded the time limit")
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"benchmark JVM failed (exit {code})")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def latency(op: dict) -> float:
    return op["construct_s"] + op["action_s"]


def end_to_end(res: dict, input_rows: int) -> dict:
    """Medians over the untraced timed iterations. An operation is one
    query, pipeline or EP step; its latency is the median of its timed
    executions, and the query metrics are the median and the upper tertile
    (p67) of those latencies across the run's operations."""
    its = [it for it in res["iterations"] if not it["traced"]]
    wall = statistics.median(sum(latency(o) for o in it["ops"]) for it in its)
    per_op = {}
    for it in its:
        for o in it["ops"]:
            per_op.setdefault(o["name"], []).append(latency(o))
    lats = [statistics.median(v) for v in per_op.values()]
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (input_rows / wall, "1/s"),
        "query_p50_s": (statistics.median(lats), "s"),
        "query_tail_s": (statistics.quantiles(lats, n=3)[1], "s"),
    }


# Per-layer metrics measured over the whole run rather than per traced
# iteration.
RUN_LEVEL_METRICS = ("trace.overhead_s", "caching.outstanding",
                     "heap_after_gc_mb", "failed_share")


def per_layer(res: dict, spec: list, failed_share: float) -> dict:
    """Medians over the traced iterations; a layer the workload never
    reaches reads 0. The iterations alternate untraced and traced, starting
    and ending untraced; the tracing overhead is the median over traced
    iterations of its wall time minus the mean of its two neighbours'."""
    its = res["iterations"]
    traced = [it for it in its if it["traced"]]
    values = {}
    for m in spec:
        name = m["name"]
        got = [it["layers"][name] for it in traced if name in it["layers"]]
        values[name] = statistics.median(got) if got else 0.0
    walls = [sum(latency(o) for o in it["ops"]) for it in its]
    overhead = statistics.median(
        walls[i] - (walls[i - 1] + walls[i + 1]) / 2
        for i, it in enumerate(its) if it["traced"])
    values.update({
        "trace.overhead_s": overhead,
        "caching.outstanding": res["caching_outstanding"],
        "heap_after_gc_mb": res["heap_after_gc_mb"],
        "failed_share": failed_share,
    })
    return {m["name"]: (values[m["name"]], m["unit"]) for m in spec}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["etl_star", "operator_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    deadline = time.monotonic() + TIME_LIMIT_S

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build_dir = os.path.join(root, ".bench_build")
    classpath = build.build(root, build_dir)

    run_dir = os.path.join(build_dir, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    data, out, work = (os.path.join(run_dir, d) for d in ("data", "out", "work"))
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in (data, out, work):
        os.makedirs(d)
    try:
        t0 = time.monotonic()
        truth, input_rows = generate(args.workload, args.seed, data)
        t1 = time.monotonic()
        res = run_jvm(classpath, args, data, out, work, deadline)
        t2 = time.monotonic()

        ops = res["warm"] + [o for it in res["iterations"] for o in it["ops"]]
        errors = [f"{o['name']}: {o['error']}" for o in ops if o["error"]]
        if args.workload == "etl_star":
            checks = check.check_etl(os.path.join(out, "sink"), truth,
                                     res["etl_report"])
        else:
            names = [o["name"] for o in res["warm"] if not o["error"]]
            checks = check.check_oracle(root, data, os.path.join(out, "dumps"),
                                        res["oracle_sql"], names)
        if res["caching_outstanding"] != 0:
            checks.append(f"{res['caching_outstanding']} scoped caches "
                          f"outstanding after an iteration")
        for line in errors + checks:
            sys.stderr.write(f"[perfbench] {line}\n")
        walls = [round(sum(latency(o) for o in it["ops"]), 2)
                 for it in [{"ops": res["warm"]}] + res["iterations"]]
        sys.stderr.write(f"[perfbench] generate {t1 - t0:.1f} s, jvm {t2 - t1:.1f} s, "
                         f"check {time.monotonic() - t2:.1f} s, "
                         f"iteration walls {walls}\n")
        attempted = len(ops)
        failed = min(attempted, len(errors) + len(checks))
        if args.trace:
            metrics = per_layer(res, spec["per_layer"], failed / attempted)
        else:
            metrics = end_to_end(res, input_rows)
    finally:
        if not os.environ.get("PERFBENCH_KEEP"):
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
