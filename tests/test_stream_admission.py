"""Admission control for the native Iceberg streaming source
(``max_files_per_microbatch``): file-granular offsets, bounded
micro-batches, exact mid-snapshot replay. The Python DataSource API has
no engine-pushed ReadLimit, so the bound lives in the source — these
tests pin both the pure planning math and the end-to-end drain."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from iceberg_examples_spark.sources.iceberg_native import IcebergNativeTable
from iceberg_examples_spark.sources.iceberg_stream_source import (
    _advance_position,
    _files_between_positions,
    _lineage,
    _pos,
    _read_meta,
    _register,
)


@pytest.fixture()
def table_3_commits(spark, tmp_path):
    """seq 1: 3 files, seq 2: 2 files, seq 3: 4 files — 9 files, 90
    rows (10 per file via repartition on a distinct key range)."""
    loc = str(tmp_path / "t")

    def mk(lo, hi, nfiles):
        return spark.createDataFrame(
            [(i, float(i)) for i in range(lo, hi)], "k long, v double"
        ).repartition(nfiles)

    t = IcebergNativeTable.create(spark, loc, mk(0, 30, 3))
    t.append(mk(30, 50, 2))
    t.append(mk(50, 90, 4))
    return t


def test_advance_position_math(table_3_commits):
    t = table_3_commits
    chain = _lineage(_read_meta(t.location))
    # from zero, budget 2: lands mid-snapshot-1
    assert _advance_position(chain, (0, float("inf")), 2, False) == {
        "seq": 1,
        "nfiles": 2,
    }
    # finishing a snapshot exactly canonicalizes to the legacy shape
    assert _advance_position(chain, (1, 2.0), 1, False) == {"seq": 1}
    # budget spans snapshots: 1 left in seq1 + 2 in seq2 + 1 into seq3
    assert _advance_position(chain, (1, 2.0), 4, False) == {
        "seq": 3,
        "nfiles": 1,
    }
    # unbounded-size budget clamps to the tip, canonical form
    assert _advance_position(chain, (0, float("inf")), 999, False) == {
        "seq": 3
    }
    # caught up: stays put, stable serialization
    assert _advance_position(chain, (3, float("inf")), 2, False) == {
        "seq": 3
    }


def test_files_between_positions_partitions_cleanly(table_3_commits):
    """Walking the whole stream in budget-2 steps visits every file
    exactly once, in plan order."""
    t = table_3_commits
    chain = _lineage(_read_meta(t.location))
    full = _files_between_positions(chain, {"seq": 0}, {"seq": 3}, False)
    assert len(full) == 9
    pos, seen = {"seq": 0}, []
    for _ in range(10):
        nxt = _advance_position(chain, _pos(pos), 2, False)
        if nxt == pos:
            break
        seen.extend(_files_between_positions(chain, pos, nxt, False))
        pos = nxt
    assert seen == full
    assert pos == {"seq": 3}


def _drain_runs(spark, t, ckpt, max_runs=12):
    """Repeated availableNow runs with bound 2 on one checkpoint until a
    run emits nothing. Returns (per-run lists of non-empty micro-batch
    row counts, union of rows seen)."""
    _register(spark)
    runs = []
    rows = set()

    def sink(b, _epoch):
        got = [r["k"] for r in b.select("k").collect()]
        if got:
            runs[-1].append(len(got))
            rows.update(got)

    for _ in range(max_runs):
        runs.append([])
        q = (
            spark.readStream.format("icebergnative_stream")
            .option("path", t.location)
            .option("max_files_per_microbatch", "2")
            .load()
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(sink)
            .start()
        )
        q.awaitTermination()
        if not runs[-1]:
            break
    return runs, rows


def _max_file_rows(t):
    # the bound is on FILES (2/batch); rows per file vary slightly with
    # repartition's distribution, so cap at 2 x the largest file
    _, _, data, _, _ = t._plan()
    return max(d["record_count"] for d in data)


def test_simple_reader_bounded_drain_exact(
    spark, tmp_path, table_3_commits
):
    """Admission is exact across restarts: drain the 9-file table with
    bound 2 through repeated availableNow runs on one checkpoint. Every
    micro-batch carries at most 2 files' rows, the union is exact, at
    least 5 batches were needed, and the caught-up checkpoint re-drain
    emits nothing."""
    t = table_3_commits
    runs, rows = _drain_runs(spark, t, str(tmp_path / "ckpt"))
    assert runs[-1] == [], f"not caught up after {len(runs)} drains"
    assert rows == set(range(90))
    out_counts = [n for run in runs for n in run]
    assert all(n <= 2 * _max_file_rows(t) for n in out_counts), out_counts
    assert len(out_counts) >= 5, out_counts


def test_bulk_reader_admission_channel_exact(
    spark, tmp_path, table_3_commits
):
    """Exact admission needs no side channel: each availableNow run is a
    restarted query, and its FIRST micro-batch is bounded only because
    the engine hands the reader the checkpointed offset
    (partitions(last, last)) before asking for a new one. The first
    batch of every run admits at most 2 files, the drain is exact, and
    the checkpoint's last committed offset converges on the tip in the
    canonical {"seq": N} shape."""
    from iceberg_examples_spark.sources.iceberg_stream_source import (
        _last_committed_offset,
    )

    t = table_3_commits
    ckpt = str(tmp_path / "ckpt")
    runs, rows = _drain_runs(spark, t, ckpt)
    assert rows == set(range(90))
    firsts = [run[0] for run in runs if run]
    assert len(firsts) >= 2, runs
    assert all(n <= 2 * _max_file_rows(t) for n in firsts), runs
    assert _last_committed_offset(ckpt) == {"seq": 3}


def test_bulk_reader_bounds_after_first_batch(spark, tmp_path):
    """A long-running processingTime stream bounds EVERY micro-batch,
    the first included (a fresh query's first latestOffset bounds from
    the initial offset): a table that starts with 4 files and grows 6
    more after start is consumed in batches of <= 2 files — at least 2
    for the initial files and 3 for the growth."""
    import time

    _register(spark)
    loc = str(tmp_path / "t")

    def mk(lo, hi, nfiles):
        return spark.createDataFrame(
            [(i, float(i)) for i in range(lo, hi)], "k long, v double"
        ).repartition(nfiles)

    t = IcebergNativeTable.create(spark, loc, mk(0, 40, 4))
    batches = []
    rows = set()

    def sink(b, _epoch):
        got = [r["k"] for r in b.select("k").collect()]
        if got:
            batches.append(len(got))
            rows.update(got)

    q = (
        spark.readStream.format("icebergnative_stream")
        .option("path", loc)
        .option("max_files_per_microbatch", "2")
        .load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="250 milliseconds")
        .foreachBatch(sink)
        .start()
    )
    try:
        deadline = time.time() + 60
        while len(rows) < 40 and time.time() < deadline:
            time.sleep(0.25)
        assert rows == set(range(40)), "initial commit not drained"
        initial = len(batches)
        # grow the table by 6 files across two commits while running
        t.append(mk(40, 70, 3))
        t.append(mk(70, 100, 3))
        while len(rows) < 100 and time.time() < deadline:
            time.sleep(0.25)
    finally:
        q.stop()
    assert rows == set(range(100))
    _, _, data, _, _ = t._plan()
    max_file_rows = max(d["record_count"] for d in data)
    # every batch, the first included, admits at most 2 files
    assert all(n <= 2 * max_file_rows for n in batches), batches
    assert initial >= 2 and len(batches) - initial >= 3, batches


def test_max_files_option_validation():
    """'0'/negatives/garbage must raise, not silently unbound (r11
    ADVICE: truthiness-gating made '0' mean 'no limit')."""
    from iceberg_examples_spark.sources.iceberg_stream_source import (
        _parse_max_files,
    )

    assert _parse_max_files({}) is None
    assert _parse_max_files({"max_files_per_microbatch": "2"}) == 2
    for bad in ("0", "-3", "x", ""):
        with pytest.raises(ValueError, match="max_files_per_microbatch"):
            _parse_max_files({"max_files_per_microbatch": bad})
