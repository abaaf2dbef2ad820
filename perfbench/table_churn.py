"""``table_churn``: the write path beside reads on one native table.

The table starts as the sf0.1 ``orders`` table (150k rows, 8
range-split data files). Each seeded round runs, in order: ``append``,
a ``row_delta`` upsert, a merge-on-read ``delete_where``, a
copy-on-write ``update_where`` and one SQL ``MERGE INTO`` through
``sql_merge.execute_statement`` on ``IcebergNativeSqlTable``, each
followed by a full-snapshot aggregate read (``scan()`` then one
action), then an incremental change-feed read (``changelog_df`` from
the last consumed snapshot) and one AvailableNow drain of
``IcebergNativeStreamSource`` on a checkpoint kept for the whole run.
Maintenance runs after the delete: ``rewrite_position_deletes``,
``rewrite_data_files`` and ``expire_snapshots`` keeping the newest
``KEEP_SNAPSHOTS``.

One round on a small table warms every operation up. Before timing,
``HISTORY_APPENDS`` appends and one compaction give the measured table
a snapshot history longer than ``KEEP_SNAPSHOTS``, so timed reads and
change-feed reads plan over a long snapshot list and every expiry
removes snapshots.

The stream reads a feed table that receives a copy of every append:
after ``expire_snapshots`` removes any ancestor of a table's current
snapshot, every later streaming read of that table fails with
``KeyError`` in ``iceberg_stream_source._lineage``, which walks the
parent chain back to the first snapshot.

An independent in-memory model of the same seeded operations checks
every snapshot read, every change-feed read (insert and delete counts
per interval), every expiry (snapshots removed), every drain (rows
appended since the last drain) and, at the end, the table's full live
contents.
"""

from __future__ import annotations

import os
import random
import statistics

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from harness import log

REGISTRY: list[str] = []
COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
APPEND_ROWS = 1000
UPSERT_OLD, UPSERT_NEW = 400, 100
MERGE_OLD, MERGE_NEW = 200, 100
UPDATE_SPAN = 200
CUSTOMERS = 15_000  # o_custkey range of the sf0.1 orders
BASE_FILES = 8
WARMUP_ROWS = 2000
HISTORY_APPENDS = 20
KEEP_SNAPSHOTS = 20

COMMITS = ["append", "row_delta", "delete", "update", "merge"]
READ_KINDS = [f"read.after_{c}" for c in COMMITS]
COMMIT_KINDS = {
    "commit.append": "iceberg_native.append",
    "commit.row_delta": "iceberg_native.row_delta",
    "commit.delete": "iceberg_native.delete",
    "commit.update": "iceberg_native.update",
    "commit.merge": "sql_merge.merge",
    "commit.rewrite_deletes": "iceberg_native.rewrite",
    "commit.rewrite_data": "iceberg_native.rewrite",
    "commit.expire": "iceberg_native.expire",
}


def _cents(price) -> np.ndarray:
    return np.round(np.asarray(price, dtype=np.float64) * 100).astype(np.int64)


def _files(path: str) -> dict[str, int]:
    """Size of every file under ``path``, by path."""
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    }


class Model:
    """The table's expected live rows and the change events since the
    last change-feed read, from the same operations the engine runs."""

    def __init__(self, base: pd.DataFrame):
        self.rows = base.set_index("o_orderkey", drop=False)
        self.inserts = self.deletes = 0
        self.stream_rows = 0

    def upsert(self, batch: pd.DataFrame, stream: bool = False) -> None:
        old = batch["o_orderkey"].isin(self.rows.index).sum()
        self.deletes += int(old)
        self.inserts += len(batch)
        if stream:
            self.stream_rows += len(batch)
        b = batch.set_index("o_orderkey", drop=False)
        self.rows = pd.concat([self.rows.drop(b.index, errors="ignore"), b])

    def delete(self, mask) -> None:
        self.deletes += int(mask.sum())
        self.rows = self.rows[~mask]

    def update(self, mask) -> None:
        n = int(mask.sum())
        self.deletes += n
        self.inserts += n
        self.rows.loc[mask, "o_totalprice"] = self.rows.loc[mask, "o_totalprice"] + 1.0
        self.rows.loc[mask, "o_orderpriority"] = "1-URGENT"

    def take_changes(self) -> tuple[int, int]:
        out = (self.inserts, self.deletes)
        self.inserts = self.deletes = 0
        return out


class ChurnTable:
    """One native table under churn, its model, and the feed table and
    checkpoint of the stream that follows its appends."""

    def __init__(self, spark, run, base: pd.DataFrame, location: str):
        from iceberg_examples_spark.sources.iceberg_native import IcebergNativeTable
        from iceberg_examples_spark.sources.iceberg_sql_bridge import IcebergNativeSqlTable

        self.spark, self.run, self.location = spark, run, location
        self.model = Model(base)
        self.submitted = [base]
        self.next_key = int(base["o_orderkey"].max()) + 1
        self.key_span = self.next_key
        self.round = 0
        self.drained_rows: list[int] = []
        self.cdc_rows: list[int] = []
        df = spark.createDataFrame(base)
        self.table = IcebergNativeTable.create(spark, location, df.repartitionByRange(BASE_FILES, "o_orderkey"))
        self.sql_table = IcebergNativeSqlTable(spark, location)
        self.written = sum(_files(location).values())
        self.feed = IcebergNativeTable.create(spark, location + "_feed", df.limit(0))
        self.checkpoint = location + "_checkpoint"
        self.stream = spark.readStream.format("icebergnative_stream").option("path", location + "_feed").load()
        self.consume_changes()

    def snapshots(self) -> int:
        return len(self.table._metadata()["snapshots"])

    def consume_changes(self) -> None:
        """Start the change feed at the current snapshot."""
        self.last_snapshot = self.table._metadata()["current-snapshot-id"]
        self.model.take_changes()

    def round_ops(self, rng: random.Random) -> list:
        self.round += 1
        r = np.random.default_rng(rng.randrange(2**32))
        commits = dict(zip(COMMITS, (self._append, self._row_delta, self._delete, self._update, self._merge)))
        ops = []
        for name, commit in commits.items():
            # a snapshot read after every commit: reads see each
            # delete-file state (equality, position, none) the write
            # path leaves behind
            ops += [lambda c=commit: c(r), lambda n=name: self._read(n)]
            if name == "delete":
                # maintenance while the table holds position deletes to
                # rewrite (a MERGE rewrites the whole table)
                ops += [self._rewrite_deletes, self._rewrite_data, self._expire]
        return ops + [self._cdc, self._drain]

    def _new_rows(self, r, n: int) -> pd.DataFrame:
        keys = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
        self.next_key += n
        return self._rows(r, keys)

    def _rows(self, r, keys: np.ndarray) -> pd.DataFrame:
        """Fresh values for ``keys``: a status the base data never has and
        a new price, so an upserted row differs from the version it
        replaces and shows in the change feed."""
        n = len(keys)
        return pd.DataFrame(
            {
                "o_orderkey": keys,
                "o_custkey": r.integers(0, CUSTOMERS, n, dtype=np.int64),
                "o_orderstatus": np.full(n, f"R{self.round}", dtype=object),
                "o_totalprice": r.integers(100_000, 50_000_000, n) / 100.0,
                "o_orderpriority": np.asarray(["2-HIGH", "3-MEDIUM"], dtype=object)[r.integers(0, 2, n)],
            }
        )

    def _existing(self, r, n: int) -> np.ndarray:
        keys = self.model.rows.index.to_numpy()
        return np.sort(r.choice(keys, size=min(n, len(keys)), replace=False))

    def _df(self, batch: pd.DataFrame):
        return self.spark.createDataFrame(batch)

    def _commit(self, kind: str, fn, check=None) -> bool:
        """One commit as one operation; with tracing, the bytes of the
        files it added under the table's data and metadata directories."""
        before = _files(self.location) if self.run.trace else None
        res = self.run.op(kind, COMMIT_KINDS[kind], lambda: [fn()], check and (lambda res: check(res[0])))
        if res is not None and self.run.trace:
            new = {p: n for p, n in _files(self.location).items() if p not in before}
            self.written += sum(new.values())
            for part in ("data", "metadata"):
                top = os.path.join(self.location, part) + os.sep
                self.run.annotate(f"{part}_bytes", sum(n for p, n in new.items() if p.startswith(top)))
        return res is not None

    def _append(self, r, feed: bool = True) -> None:
        """Append new rows; with ``feed``, also (untimed) to the feed table."""
        batch = self._new_rows(r, APPEND_ROWS)
        if self._commit("commit.append", lambda: self.table.append(self._df(batch))):
            self.model.upsert(batch, stream=feed)
            self.submitted.append(batch)
            if feed:
                self.run.op("feed.append", "iceberg_native.append", lambda: self.feed.append(self._df(batch)), sample=False)

    def _row_delta(self, r) -> None:
        batch = pd.concat([self._rows(r, self._existing(r, UPSERT_OLD)), self._new_rows(r, UPSERT_NEW)])
        if self._commit("commit.row_delta", lambda: self.table.row_delta(self._df(batch), ["o_orderkey"])):
            self.model.upsert(batch)
            self.submitted.append(batch)

    def _delete(self, r) -> None:
        residue = int(r.integers(0, 1000))
        if self._commit("commit.delete", lambda: self.table.delete_where(f"o_orderkey % 1000 = {residue}")):
            self.model.delete(self.model.rows["o_orderkey"] % 1000 == residue)

    def _update(self, r) -> None:
        lo = int(r.integers(0, self.key_span - UPDATE_SPAN))
        hi = lo + UPDATE_SPAN
        cond = f"o_orderkey >= {lo} AND o_orderkey < {hi}"
        sets = {"o_totalprice": "o_totalprice + 1", "o_orderpriority": "'1-URGENT'"}
        if self._commit("commit.update", lambda: self.table.update_where(cond, sets, mode="copy-on-write")):
            k = self.model.rows["o_orderkey"]
            self.model.update((k >= lo) & (k < hi))

    def _merge(self, r) -> None:
        from iceberg_examples_spark.sql_merge import execute_statement

        batch = pd.concat([self._rows(r, self._existing(r, MERGE_OLD)), self._new_rows(r, MERGE_NEW)])
        sql = (
            "MERGE INTO churn t USING churn_src s ON t.o_orderkey = s.o_orderkey "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )

        def go():
            self._df(batch).createOrReplaceTempView("churn_src")
            execute_statement(self.spark, sql, {"churn": self.sql_table})

        if self._commit("commit.merge", go):
            self.model.upsert(batch)
            self.submitted.append(batch)

    def _rewrite_deletes(self) -> None:
        self._commit("commit.rewrite_deletes", self.table.rewrite_position_deletes)

    def _rewrite_data(self) -> None:
        self._commit("commit.rewrite_data", self.table.rewrite_data_files)

    def _expire(self) -> None:
        want = max(self.snapshots() - KEEP_SNAPSHOTS, 0)
        expired: list[int] = []

        def check(ids):
            expired.extend(ids)
            return None if len(ids) == want else f"expired {len(ids)} snapshots, want {want}"

        if self._commit("commit.expire", lambda: self.table.expire_snapshots(keep_last=KEEP_SNAPSHOTS), check):
            self.run.annotate("expired", len(expired))

    def _read(self, after: str) -> None:
        def go():
            with self.run.span("iceberg_native.scan_plan"):
                df = self.table.scan()
            with self.run.span("iceberg_native.scan_exec"):
                row = df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
                ).collect()[0]
            return row["n"], row["cents"]

        rows = self.model.rows
        want = (len(rows), int(_cents(rows["o_totalprice"]).sum()))
        self.run.op(
            f"read.after_{after}", "iceberg_native.scan", go,
            lambda got: None if tuple(got) == want else f"got {tuple(got)}, want {want}",
        )

    def _cdc(self) -> None:
        snap = self.table._metadata()["current-snapshot-id"]

        def go():
            with self.run.span("iceberg_native.changelog_plan"):
                df = self.table.changelog_df(from_snapshot_id=self.last_snapshot)
            with self.run.span("iceberg_native.changelog_exec"):
                counts = {r["_change_type"]: r["n"] for r in df.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()}
            return counts.get("insert", 0), counts.get("delete", 0)

        want = self.model.take_changes()
        got = self.run.op(
            "read.cdc", "iceberg_native.changelog", go,
            lambda got: None if tuple(got) == want else f"(inserts, deletes) {tuple(got)}, want {want}",
        )
        if got is not None:
            self.last_snapshot = snap
            if self.run.phase == "timed":
                self.cdc_rows.append(sum(got))

    def _drain(self) -> None:
        def go():
            counts: list[int] = []
            q = (
                self.stream.writeStream.option("checkpointLocation", self.checkpoint)
                .trigger(availableNow=True)
                .foreachBatch(lambda b, _: counts.append(b.count()))
                .start()
            )
            q.awaitTermination()
            # the micro-batches ran on the query's thread, in job group runId
            self.run.include_group(q.runId)
            return sum(counts)

        want = self.model.stream_rows
        got = self.run.op(
            "stream.drain", "iceberg_stream_source.drain", go,
            lambda got: None if got == want else f"drained {got} rows, want {want}",
        )
        if got is not None:
            self.model.stream_rows = 0
            if self.run.phase == "timed":
                self.drained_rows.append(got)


class Workload:
    kinds = list(COMMIT_KINDS) + READ_KINDS + ["read.cdc", "stream.drain"]
    query_kinds = READ_KINDS + ["read.cdc"]

    def __init__(self, spark, run, seed: int, data_dir: str, work: str):
        self.spark, self.run, self.seed = spark, run, seed
        self.data_dir, self.work = data_dir, work

    def setup(self) -> None:
        """Warm every operation up with one round on a small table, then
        build the measured table and give it history."""
        from iceberg_examples_spark.sources.iceberg_stream_source import IcebergNativeStreamSource

        self.spark.dataSource.register(IcebergNativeStreamSource)
        base = pq.read_table(os.path.join(self.data_dir, "orders.parquet"), columns=COLUMNS).to_pandas()
        tables = os.path.join(self.work, "tables")
        rng = random.Random(self.seed ^ 0x5EED)
        warm = ChurnTable(self.spark, self.run, base.head(WARMUP_ROWS), os.path.join(tables, "warmup"))
        for step in warm.round_ops(rng):
            step()
        log("warmup round done")
        self.t = t = ChurnTable(self.spark, self.run, base, os.path.join(tables, "churn"))
        r = np.random.default_rng(rng.randrange(2**32))
        for _ in range(HISTORY_APPENDS):
            t._append(r, feed=False)
        t._rewrite_data()  # a long history over a compacted table
        t.consume_changes()

    def passes(self):
        self.history_snapshots = self.t.snapshots()
        log(f"timed phase starts at {self.history_snapshots} snapshots")
        rng = random.Random(self.seed)
        while True:
            yield self.t.round_ops(rng)

    # -- checks and layer figures -----------------------------------------

    def check(self) -> None:
        """The table's full live contents against the model."""
        t = self.t
        want = t.model.rows.reset_index(drop=True)[COLUMNS].sort_values("o_orderkey").reset_index(drop=True)

        def go():
            got = t.table.scan().select(*COLUMNS).toPandas()
            return got.sort_values("o_orderkey").reset_index(drop=True)

        def same(got):
            if len(got) == len(want) and all((got[c].to_numpy() == want[c].to_numpy()).all() for c in COLUMNS):
                return None
            return f"live rows differ from the model ({len(got)} rows, want {len(want)})"

        self.run.op("check.final_state", "iceberg_native.scan", go, same)

    def _parquet_bytes(self, frame: pd.DataFrame) -> int:
        """Size of ``frame`` written once as one snappy parquet file."""
        path = os.path.join(self.work, "tmp", "once.parquet")
        pq.write_table(pa.Table.from_pandas(frame[COLUMNS], preserve_index=False), path, compression="snappy")
        return os.path.getsize(path)

    def layer_metrics(self) -> dict:
        from table_metrics import live_bytes, table_metrics

        run, t = self.run, self.t
        commits = list(COMMIT_KINDS)
        out = {
            f"{layer}_s": (run.median(kind), "s")
            for kind, layer in COMMIT_KINDS.items()
            if layer != "iceberg_native.rewrite"
        }
        out["iceberg_native.rewrite_s"] = (run.per_pass("wall_s", ["commit.rewrite_deletes", "commit.rewrite_data"]), "s")
        for field, unit in [("jobs", "count"), ("stages", "count"), ("driver_cpu_s", "s"),
                            ("metadata_bytes", "bytes"), ("data_bytes", "bytes")]:
            out[f"iceberg_native.commit_{field}"] = (run.per_pass(field, commits), unit)
        pooled = [s["wall_s"] for k in commits for s in run.samples.get(k, [])]
        out["iceberg_native.commit_p50_s"] = (statistics.median(pooled) if pooled else 0.0, "s")
        reads = [s["wall_s"] for k in READ_KINDS for s in run.samples.get(k, [])]
        out["iceberg_native.read_p50_s"] = (statistics.median(reads) if reads else 0.0, "s")
        out["iceberg_native.cdc_p50_s"] = (run.median("read.cdc"), "s")
        cdc = "read.cdc"
        out["iceberg_native.changelog_plan_s"] = (run.median(cdc, "iceberg_native.changelog_plan:wall_s"), "s")
        out["iceberg_native.changelog_plan_jobs"] = (run.median(cdc, "iceberg_native.changelog_plan:jobs"), "count")
        out["iceberg_native.changelog_exec_s"] = (run.median(cdc, "iceberg_native.changelog_exec:wall_s"), "s")
        out["iceberg_native.changelog_jobs"] = (run.median(cdc, "jobs"), "count")
        out["iceberg_native.changelog_stages"] = (run.median(cdc, "stages"), "count")
        out["iceberg_native.changelog_rows"] = (statistics.median(t.cdc_rows) if t.cdc_rows else 0.0, "count")
        out["sql_merge.jobs"] = (run.median("commit.merge", "jobs"), "count")
        out["sql_merge.driver_cpu_s"] = (run.median("commit.merge", "driver_cpu_s"), "s")
        out["iceberg_stream_source.drain_s"] = (run.median("stream.drain"), "s")
        out["iceberg_stream_source.jobs"] = (run.median("stream.drain", "jobs"), "count")
        out["iceberg_stream_source.rows"] = (
            statistics.median(t.drained_rows) if t.drained_rows else 0.0, "count")
        out["iceberg_native.expired_snapshots"] = (run.median("commit.expire", "expired"), "count")
        out["iceberg_native.history_snapshots"] = (self.history_snapshots, "count")
        out["iceberg_native.write_amp"] = (t.written / self._parquet_bytes(pd.concat(t.submitted)), "ratio")
        out["iceberg_native.storage_amp"] = (live_bytes(t.table) / self._parquet_bytes(t.model.rows), "ratio")
        out.update(table_metrics(run, [t.table]))
        return out
