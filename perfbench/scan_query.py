"""``scan_query``: read-only queries over TPC-H-shaped tables.

Each pass runs, in a seeded order, the registry queries below and
partition-pruned lookups on two native Iceberg tables built once in
set-up: ``lineitem`` partitioned by ``month(l_shipdate)`` and
``orders`` partitioned by ``bucket(o_custkey, 16)``. The seed picks
the order and the lookup literals. Registry results are checked
against their DuckDB oracles; each lookup against the same filter
applied to the input parquet with pyarrow.
"""

from __future__ import annotations

import os
import random

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from harness import log
from oracle import result_hash

REGISTRY = ["tpch_q1", "tpch_q3", "tpch_q5", "tpch_q9", "tpch_q18", "agg_sum_by_key", "partition_prune"]
LOOKUPS_PER_PASS = 2
MONTHS = range((1995 - 1970) * 12, (2001 - 1970) * 12 + 10)  # months holding l_shipdate values
CUSTOMERS = 15_000  # o_custkey range


class Workload:
    kinds = [f"query.{q}" for q in REGISTRY] + ["lookup.lineitem_month", "lookup.orders_cust"]
    query_kinds = kinds

    def __init__(self, spark, run, seed: int, data_dir: str, work: str):
        self.spark, self.run, self.seed = spark, run, seed
        self.data_dir, self.work = data_dir, work
        self.expected: dict = {}
        self.hashes: list[tuple[str, int, str]] = []
        self.tables: list = []

    # -- fixtures --------------------------------------------------------

    def setup(self) -> None:
        from iceberg_examples_spark.sources.iceberg_native import IcebergNativeTable

        read = lambda name: self.spark.read.parquet(os.path.join(self.data_dir, f"{name}.parquet"))  # noqa: E731
        self.lineitem = IcebergNativeTable.create(
            self.spark,
            os.path.join(self.work, "tables", "lineitem"),
            read("lineitem").select(
                "l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
                F.col("l_shipdate").cast("date").alias("l_shipdate"),
            ),
            partition_by=["month(l_shipdate)"],
        )
        self.orders = IcebergNativeTable.create(
            self.spark,
            os.path.join(self.work, "tables", "orders"),
            read("orders").select("o_orderkey", "o_custkey", "o_totalprice"),
            partition_by=["bucket(o_custkey, 16)"],
        )
        self.tables = [self.lineitem, self.orders]
        log("native tables built")
        li = pq.read_table(os.path.join(self.data_dir, "lineitem.parquet"))
        self.li_month = pc.add(
            pc.multiply(pc.subtract(pc.year(li["l_shipdate"]), 1970), 12),
            pc.subtract(pc.month(li["l_shipdate"]), 1),
        )
        self.li = li
        self.orders_raw = pq.read_table(os.path.join(self.data_dir, "orders.parquet"))
        for step in self._pass(random.Random(self.seed ^ 0x5EED)):
            step()

    def passes(self):
        rng = random.Random(self.seed)
        while True:
            yield self._pass(rng)

    # -- operations --------------------------------------------------------

    def _pass(self, rng: random.Random) -> list:
        ops = [lambda q=q: self._query(q) for q in REGISTRY]
        ops += [lambda m=rng.choice(MONTHS): self._month(m) for _ in range(LOOKUPS_PER_PASS)]
        ops += [lambda c=rng.randrange(CUSTOMERS): self._cust(c) for _ in range(LOOKUPS_PER_PASS)]
        rng.shuffle(ops)
        return ops

    def _query(self, name: str) -> None:
        from iceberg_examples_spark.registry import QUERIES

        def go():
            df = QUERIES[name](self.spark, self.data_dir)
            return list(df.columns), [tuple(r) for r in df.collect()]

        res = self.run.op(f"query.{name}", f"query.{name}", go)
        if res is not None:
            self.hashes.append((name, len(res[1]), result_hash(*res)))

    def _month(self, month: int) -> None:
        def go():
            with self.run.span("iceberg_native.scan_plan"):
                df = self.lineitem.scan(partition_filter={"l_shipdate_month": month})
            with self.run.span("iceberg_native.scan_exec"):
                r = df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("qty"),
                ).collect()[0]
            return r["n"], r["qty"] or 0

        def check(got):
            mask = pc.equal(self.li_month, month)
            rows = self.li.filter(mask)
            qty = int(pc.sum(pc.round(pc.multiply(rows["l_quantity"], 100))).as_py() or 0)
            want = (rows.num_rows, qty)
            return None if tuple(got) == want else f"month {month}: got {tuple(got)}, want {want}"

        self.run.op("lookup.lineitem_month", "iceberg_native.scan", go, check)

    def _cust(self, cust: int) -> None:
        def go():
            with self.run.span("iceberg_native.scan_plan"):
                df = self.orders.scan(where={"o_custkey": cust})
            with self.run.span("iceberg_native.scan_exec"):
                return sorted(r["o_orderkey"] for r in df.select("o_orderkey").collect())

        def check(got):
            t = self.orders_raw.filter(pc.equal(self.orders_raw["o_custkey"], cust))
            want = sorted(t["o_orderkey"].to_pylist())
            return None if got == want else f"customer {cust}: {len(got)} orders, want {len(want)}"

        self.run.op("lookup.orders_cust", "iceberg_native.scan", go, check)

    # -- checks and layer figures -----------------------------------------

    def check(self) -> None:
        for name, n, h in self.hashes:
            want = self.expected.get(name)
            if want is None or (n, h) != (want["rows"], want["hash"]):
                self.run.record_failure(f"query.{name}", f"result differs from DuckDB oracle ({n} rows)")

    def layer_metrics(self) -> dict:
        from table_metrics import query_metrics, table_metrics

        out = query_metrics(self.run, REGISTRY)
        out.update(table_metrics(self.run, self.tables))
        return out
