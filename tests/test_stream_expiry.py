"""Streaming reads of a native Iceberg table after ``expire_snapshots``.

Expiry removes old snapshots from the metadata while the current
snapshot still names its expired parent. The stream source walks the
lineage through the table's own reader, which stops at the oldest
retained ancestor: a stream whose checkpoint already consumed everything
expired keeps draining, and one whose checkpoint still needed an expired
snapshot fails loudly instead of silently skipping its rows."""

from __future__ import annotations

import pytest

from iceberg_examples_spark.sources.iceberg_native import IcebergNativeTable
from iceberg_examples_spark.sources.iceberg_stream_source import (
    IcebergNativeStreamSource,
)


def _batch(spark, lo):
    return spark.createDataFrame(
        [(i, float(i)) for i in range(lo, lo + 10)], "k long, v double"
    )


def _drainer(spark, source, location, ckpt):
    try:
        spark.dataSource.register(source)
    except Exception as e:
        if "already" not in str(e).lower():
            raise
    stream_df = spark.readStream.format(source.name()).option("path", location).load()

    def drain() -> list[int]:
        got: list[int] = []
        q = (
            stream_df.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(lambda b, _e: got.extend(r["k"] for r in b.collect()))
            .start()
        )
        q.awaitTermination()
        return sorted(got)

    return drain


@pytest.mark.parametrize("source", [IcebergNativeStreamSource])
def test_drain_after_expiring_consumed_snapshots(spark, tmp_path, source):
    t = IcebergNativeTable.create(spark, str(tmp_path / "t"), _batch(spark, 0))
    t.append(_batch(spark, 10))
    drain = _drainer(spark, source, t.location, str(tmp_path / "ckpt"))
    assert drain() == list(range(20))
    t.append(_batch(spark, 20))
    assert len(t.expire_snapshots(keep_last=1)) == 2
    assert drain() == list(range(20, 30))


def test_drain_refuses_when_unconsumed_snapshot_expired(spark, tmp_path):
    t = IcebergNativeTable.create(spark, str(tmp_path / "t"), _batch(spark, 0))
    drain = _drainer(
        spark, IcebergNativeStreamSource, t.location, str(tmp_path / "ckpt")
    )
    assert drain() == list(range(10))
    t.append(_batch(spark, 10))  # never consumed, then expired
    t.append(_batch(spark, 20))
    assert len(t.expire_snapshots(keep_last=1)) == 2
    with pytest.raises(Exception, match="expired before this stream consumed"):
        drain()
