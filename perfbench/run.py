"""Lakehouse engine benchmark: two seeded, closed-loop workloads.

Usage (from any directory)::

    python3 perfbench/run.py --workload scan_query --seed 1 --seconds 10 --trace 0

Workloads (one Spark session at ``local[4]``, one client, no extra
threads; BENCHMARK.json says why each was chosen, METRICS.md gives
its sizes and what each metric should move):

- ``scan_query``: TPC-H-shaped registry queries plus partition-pruned
  lookups on native Iceberg tables (read only).
- ``table_churn``: append, row-delta upsert, merge-on-read delete,
  copy-on-write update, SQL MERGE, snapshot reads and incremental
  change-feed reads on one native table with a snapshot history, with
  maintenance and a streaming drain every round.

The input tables are the engine's sf0.1 test data, copied unchanged
into ``perfbench/data/``; ``--seed`` sets the operations run on them
(query order, lookup literals, the rows and keys each commit touches).
Each run evaluates the registry queries' DuckDB oracles, sets up
(session start, fixtures, warmup), measures for at least ``--seconds``,
checks every result, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the
per-layer metrics (job groups ``<workload>/<layer>``, status-store
stage metrics, ``/proc`` CPU), which cost extra time per operation.

All storage a run writes (tables, Spark local dirs, the engine's
scratch and index roots, temp files) lives in ``.perfbench_work/`` at
the repository root and is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")  # the engine's sf0.1 test tables, read only
WORKLOADS = ("scan_query", "table_churn")
CORES = 4
DRIVER_MEM = "2g"


def _configure_env(work: str) -> None:
    """Pin every storage root under ``work`` and put the repo root on the
    import path of the Python workers the JVM will start (they inherit
    this process's environment, not its ``sys.path``)."""
    dirs = {k: os.path.join(work, k) for k in ("scratch", "local", "tmp", "index")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_SCRATCH_ROOT"] = dirs["scratch"]
    os.environ["SPARK_GRAFT_INDEX_DIR"] = dirs["index"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # every JVM the run starts: temp files here, no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def _start_session(work: str):
    from iceberg_examples_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.iceberg_examples.indexDir": os.path.join(work, "index"),
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark, then close the gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _metrics(names_units: list[dict], values: dict) -> dict:
    out = {}
    for m in names_units:
        value, _unit = values.get(m["name"], (0.0, m["unit"]))
        out[m["name"]] = {"value": float(value), "unit": m["unit"]}
    return out


def _oracle(names: list[str]) -> dict:
    """DuckDB oracle results of registry queries, from a child process
    that runs to completion before the Spark session starts."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "oracle.py"), DATA, *names],
        stdout=subprocess.PIPE,
        text=True,
        check=True,
        timeout=120,
    ).stdout
    return json.loads(out)


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from harness import Run, log, timed_loop

    wl = importlib.import_module(workload)
    expected = _oracle(wl.REGISTRY) if wl.REGISTRY else {}
    log("oracle results in")
    t_setup = time.perf_counter()
    spark = _start_session(work)
    session_start_s = time.perf_counter() - t_setup
    log("session started")
    try:
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        r = Run(workload, spark, trace, jvm_pid)
        bench = wl.Workload(spark, r, seed, DATA, work)
        bench.expected = expected
        r.phase = "warmup"
        bench.setup()
        setup_s = time.perf_counter() - t_setup
        log("fixtures built, warmup done")
        timed_loop(r, bench.passes(), seconds, bench.kinds)
        log(f"timed phase done ({r.timed_wall_s:.2f}s)")
        log("median latency by kind: " + json.dumps({k: round(r.median(k), 4) for k in sorted(r.samples)}))
        bench.check()
        log("checks done")
        values = r.end_to_end(bench.query_kinds, setup_s)
        if trace:
            values.update(r.spark_layer())
            values.update(bench.layer_metrics())
            values["session.start_s"] = (session_start_s, "s")
    finally:
        _stop_session(spark)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for fail in r.failures:
        log(f"{fail['phase']} {fail['kind']}: {fail['error']}")
    return {
        "correct": not r.failures,
        "attempted": r.attempted,
        "failed": len(r.failures),
        "metrics": _metrics(spec["per_layer" if trace else "end_to_end"], values),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "iceberg_examples_spark", "session.py")):
        print(f"perfbench: engine package not found under {REPO}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, REPO]
    work = os.path.join(REPO, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
