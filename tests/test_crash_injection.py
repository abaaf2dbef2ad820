"""Crash-injection around the commit protocol, on both table layouts.

``LocalTable`` and ``IcebergNativeTable`` publish every metadata version
through one function, ``catalog.publish_version``: the complete metadata
goes to a temp file, which ``os.link`` then gives the version name. A
writer can die at any point between writing its data files and that
link. The protocol's claim: a crash at ANY such point leaves (a) the
published table state untouched and fully readable, (b) only unreachable
garbage on disk — data files no metadata references and the
``*.json.tmp`` of a killed publisher — which (c) the table's orphan sweep
reclaims exactly, after which (d) a retry of the crashed operation
commits cleanly. The native table additionally swaps
``version-hint.text`` after the link; a writer killed between the two
has already committed, and the table must read and commit normally.

The crash is injected inside ``publish_version``: the double either
leaves the temp file a killed publisher leaves and raises before the
link, or runs the real publish and raises after it. The exception
unwinds past ``_commit`` without any cleanup running, so the on-disk
state is the one a process killed at that instant leaves.
Cross-process kill coverage for the CAS itself lives in
scripts/mp_commit_race.py (real JVMs racing one root per table kind);
this test covers the crash-recovery half the storm tests don't.

Reference contract: Iceberg commits are all-or-nothing metadata swaps;
uncommitted data files are invisible and reclaimed by
remove_orphan_files (IcebergJavaApiAppend.java:92-94 commit protocol).
"""

from __future__ import annotations

import os
import tempfile
import threading

import pytest

from iceberg_examples_spark import catalog
from iceberg_examples_spark.catalog import CommitConflictError, LocalTable
from iceberg_examples_spark.sources.iceberg_native import IcebergNativeTable


class _InjectedCrash(RuntimeError):
    """Stands in for SIGKILL: raised from inside publish_version, it
    unwinds past _commit without any cleanup running — the same on-disk
    state a killed process leaves."""


def _crash_in_publish(monkeypatch, after_link=False, only_thread=None):
    """Make ``publish_version`` die like a killed writer: before the
    link (leaving its temp file behind, as SIGKILL skips the unlink) or
    right after it. ``only_thread`` limits the crash to the thread of
    that name."""
    real = catalog.publish_version

    def crashing(path, text):
        if only_thread not in (None, threading.current_thread().name):
            return real(path, text)
        if after_link:
            real(path, text)
            raise _InjectedCrash(f"killed after linking {path}")
        fd, _ = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".json.tmp")
        os.write(fd, text[: len(text) // 2].encode())
        os.close(fd)
        raise _InjectedCrash(f"killed before linking {path}")

    monkeypatch.setattr(catalog, "publish_version", crashing)


class _Local:
    """LocalTable through the verbs these tests need."""

    @staticmethod
    def create(spark, root, df):
        t = LocalTable(spark, root)
        t.create(df)
        return t

    handle = LocalTable

    @staticmethod
    def rows(t):
        return sorted(tuple(r) for r in t.read().collect())

    @staticmethod
    def version(t):
        return t.current_version

    @staticmethod
    def listing(root):
        # orphans are whole snap-* dirs plus top-level temp files
        return set(os.listdir(root))

    @staticmethod
    def sweep(t, **kw):
        return t.remove_orphans(**kw)


class _Native:
    """IcebergNativeTable through the same verbs."""

    create = staticmethod(IcebergNativeTable.create)
    handle = IcebergNativeTable

    @staticmethod
    def rows(t):
        return sorted(tuple(r) for r in t.scan().collect())

    @staticmethod
    def version(t):
        return t._current_version()

    @staticmethod
    def listing(root):
        # the files remove_orphan_files owns: data parquet and metadata
        return {
            os.path.join(r, n)
            for r, _, names in os.walk(root)
            for n in names
            if n.endswith(".parquet") or os.path.basename(r) == "metadata"
        }

    @staticmethod
    def sweep(t, **kw):
        return len(t.remove_orphan_files(**kw))


def _df(spark, rows, schema):
    # one partition, so every write is one non-empty file: Spark's empty
    # part files are unreferenced from birth and would blur the orphan
    # counts below
    return spark.createDataFrame(rows, schema).coalesce(1)


KINDS = pytest.mark.parametrize("kind", [_Local, _Native], ids=["local", "native"])


@KINDS
def test_crash_between_data_write_and_publish_recovers(
    spark, tmp_path, monkeypatch, kind
):
    root = str(tmp_path / "tbl_crash")
    schema = "k long, v string"
    t = kind.create(spark, root, _df(spark, [(1, "a"), (2, "b")], schema))
    before_rows = kind.rows(t)
    v0 = kind.version(t)
    before = kind.listing(root)

    crasher = kind.handle(spark, root)
    with monkeypatch.context() as m:
        _crash_in_publish(m)
        with pytest.raises(_InjectedCrash):
            crasher.append(_df(spark, [(3, "c")], schema))

    # (a) published state untouched, (b) only unreachable garbage: the
    # crashed commit's data and its publisher's temp file
    assert kind.rows(t) == before_rows
    assert kind.version(t) == v0
    garbage = kind.listing(root) - before
    assert sum(g.endswith(".json.tmp") for g in garbage) == 1
    assert len(garbage) >= 2

    # an unrelated writer is never blocked by the garbage
    t.append(_df(spark, [(4, "d")], schema))
    assert kind.version(t) == v0 + 1

    # (c) recovery reclaims exactly the garbage; every referenced file
    # survives
    assert kind.sweep(t, older_than_s=0) == len(garbage)
    assert not kind.listing(root) & garbage
    assert sorted(r[0] for r in kind.rows(t)) == [1, 2, 4]

    # (d) the crashed operation retried on a fresh handle commits
    retry = kind.handle(spark, root)
    retry.append(_df(spark, [(3, "c")], schema))
    assert sorted(r[0] for r in kind.rows(t)) == [1, 2, 3, 4]


@KINDS
def test_crash_after_link_before_hint_swap_is_committed(
    spark, tmp_path, monkeypatch, kind
):
    """A writer killed after its link has committed: readers see the
    linked version (the native reader rolls forward over the stale
    version-hint) and the next commit succeeds on top of it."""
    root = str(tmp_path / "tbl_linked")
    t = kind.create(spark, root, _df(spark, [(1,)], "k long"))
    v0 = kind.version(t)

    crasher = kind.handle(spark, root)
    with monkeypatch.context() as m:
        _crash_in_publish(m, after_link=True)
        with pytest.raises(_InjectedCrash):
            crasher.append(_df(spark, [(2,)], "k long"))

    assert kind.version(t) == v0 + 1
    assert kind.rows(t) == [(1,), (2,)]
    t.append(_df(spark, [(3,)], "k long"))
    assert kind.version(t) == v0 + 2
    assert kind.rows(kind.handle(spark, root)) == [(1,), (2,), (3,)]


@KINDS
def test_orphan_grace_protects_inflight_commit(spark, tmp_path, monkeypatch, kind):
    """The orphan sweep with the default grace must NOT reclaim a fresh
    crashed commit's files or its publisher's temp file (they are
    indistinguishable from an in-flight commit's); only the explicit
    0-second maintenance-window sweep may."""
    root = str(tmp_path / "tbl_grace")
    t = kind.create(spark, root, _df(spark, [(1,)], "k long"))
    before = kind.listing(root)
    crasher = kind.handle(spark, root)
    with monkeypatch.context() as m:
        _crash_in_publish(m)
        with pytest.raises(_InjectedCrash):
            crasher.append(_df(spark, [(2,)], "k long"))
    garbage = kind.listing(root) - before

    assert kind.sweep(t) == 0  # default 3-day grace: everything survives
    assert kind.listing(root) >= garbage
    assert kind.sweep(t, older_than_s=0) == len(garbage)


@KINDS
def test_crash_mid_storm_does_not_disturb_other_writers(
    spark, tmp_path, monkeypatch, kind
):
    """One writer crashes between data write and publish while others
    keep committing: every surviving writer's row lands exactly once and
    the crashed writer's row never appears."""
    root = str(tmp_path / "tbl_crashstorm")
    t0 = kind.create(spark, root, _df(spark, [(0,)], "id long"))
    errors: list[str] = []
    crashed: list[int] = []

    def writer(i: int) -> None:
        try:
            h = kind.handle(spark, root)
            df = _df(spark, [(i,)], "id long")
            for _ in range(64):
                try:
                    h.append(df)
                    return
                except CommitConflictError:
                    continue
                except _InjectedCrash:
                    crashed.append(i)
                    return
            errors.append(f"writer {i} exhausted retries")
        except Exception as e:  # pragma: no cover - diagnostic
            errors.append(f"writer {i}: {e!r}")

    threads = [
        threading.Thread(target=writer, args=(i,), name=f"writer-{i}")
        for i in range(1, 7)
    ]
    with monkeypatch.context() as m:
        _crash_in_publish(m, only_thread="writer-3")
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    assert not any(th.is_alive() for th in threads)

    assert errors == []
    assert crashed == [3]
    got = sorted(r[0] for r in kind.rows(t0))
    assert got == [0, 1, 2, 4, 5, 6]  # 3 crashed pre-publish: invisible
    assert kind.sweep(t0, older_than_s=0) >= 1  # its files were garbage
