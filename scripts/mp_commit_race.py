"""Cross-PROCESS commit race: two real Spark JVMs appending to one
table root concurrently, once for ``LocalTable`` and once for
``IcebergNativeTable`` (both commit through ``catalog.publish_version``).

The threaded storm tests (tests/test_engine.py) pin the serializable
conflict detection in-process; the multiprocess CAS test pins the
os.link primitive cross-process without Spark. This script closes the
last gap in the evidence chain: two independent SparkSessions — separate
JVMs, separate Python drivers — race append() with retry against the
same table root. Expected, for each table kind: every row from both
writers lands exactly once and the metadata version advances once per
successful append.

Run: ``python scripts/mp_commit_race.py`` — prints one JSON verdict
line. Kept as a script (not a pytest case) because the five JVM
spin-ups cost over a minute; run it when the commit protocol changes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

KINDS = ("local", "native")

WORKER = r"""
import sys
sys.path[:0] = [{repo!r}, {scripts!r}]
from iceberg_examples_spark.session import get_spark
from iceberg_examples_spark.catalog import CommitConflictError
from mp_commit_race import open_table

kind, wid, root = sys.argv[1], int(sys.argv[2]), sys.argv[3]
spark = get_spark(app_name=f"mp-race-{{kind}}-{{wid}}", master="local[2]")
t = open_table(spark, kind, root)
for i in range(5):
    df = spark.createDataFrame([(wid * 100 + i,)], "id long")
    for _ in range(200):
        try:
            t.append(df)
            break
        except CommitConflictError:
            continue
    else:
        print("EXHAUSTED", wid, i, flush=True)
        sys.exit(2)
print("WORKER-OK", wid, flush=True)
"""


def open_table(spark, kind: str, root: str, seed=None):
    """Handle on the ``kind`` table at ``root``, created from the
    DataFrame ``seed`` first when one is given."""
    if kind == "local":
        from iceberg_examples_spark.catalog import LocalTable

        t = LocalTable(spark, root)
        if seed is not None:
            t.create(seed)
        return t
    from iceberg_examples_spark.sources.iceberg_native import IcebergNativeTable

    if seed is not None:
        return IcebergNativeTable.create(spark, root, seed)
    return IcebergNativeTable(spark, root)


def _state(t) -> tuple[list[int], int]:
    """(sorted ids, metadata version) of either table kind."""
    if hasattr(t, "current_version"):
        return sorted(r["id"] for r in t.read().collect()), t.current_version
    return sorted(r["id"] for r in t.scan().collect()), t._current_version()


def race(spark, kind: str) -> dict:
    """Seed one table of ``kind``, race two worker processes on it and
    return that kind's verdict."""
    root = os.path.join(tempfile.mkdtemp(prefix=f"mp_race_{kind}_"), "tbl")
    t = open_table(spark, kind, root, spark.createDataFrame([(0,)], "id long"))
    _, v0 = _state(t)

    script = WORKER.format(repo=REPO, scripts=os.path.join(REPO, "scripts"))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, kind, str(w), root],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
        )
        for w in (1, 2)
    ]
    rcs = [p.wait(timeout=600) for p in procs]

    got, v = _state(t)
    expect = sorted(
        [0] + [100 + i for i in range(5)] + [200 + i for i in range(5)]
    )
    return {
        "worker_rcs": rcs,
        "rows_got": got,
        "versions_advanced": v - v0,
        "ok": rcs == [0, 0] and got == expect and v - v0 == 10,
    }


def main() -> None:
    # one seed session creates and reads both tables
    sys.path.insert(0, REPO)
    from iceberg_examples_spark.session import get_spark

    spark = get_spark(app_name="mp-race-seed", master="local[2]")
    kinds = {kind: race(spark, kind) for kind in KINDS}
    verdict = {
        "metric": "mp_commit_race",
        "kinds": kinds,
        "ok": all(k["ok"] for k in kinds.values()),
    }
    print(json.dumps(verdict))


if __name__ == "__main__":
    main()
