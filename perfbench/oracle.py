"""Registry results against their DuckDB oracles.

Run as a child process (``python3 oracle.py <data_dir> <query>...``)
before the Spark session starts: it evaluates each query's oracle SQL
from ``registry.get_oracles()`` over the input parquet files and
prints one JSON object mapping each query to the row count and hash of
its canonical result rows. The parent compares every Spark result of
the same query to that entry.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def result_hash(cols: list[str], rows: list) -> str:
    """Order-insensitive hash of a result, by the repo's canonical form
    (the one its parity tests and driver simulation compare)."""
    from tests.oracle_harness import canonical_rows

    h = hashlib.sha256()
    for r in canonical_rows(cols, rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def main(data_dir: str, names: list[str]) -> dict:
    import duckdb

    from iceberg_examples_spark.registry import get_oracles

    oracles = get_oracles()
    con = duckdb.connect()
    con.sql("SET threads = 4")
    con.sql(f"SET temp_directory = '{os.environ['TMPDIR']}'")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
    out = {}
    for name in names:
        rel = con.sql(oracles[name])
        cols, rows = list(rel.columns), rel.fetchall()
        out[name] = {"rows": len(rows), "hash": result_hash(cols, rows)}
    return out


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    print(json.dumps(main(sys.argv[1], sys.argv[2:])))
