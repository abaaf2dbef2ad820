"""Catalog: named-table access over the driver testdata + a snapshot-versioned
local table format.

The reference manages named, versioned tables through an Iceberg catalog
(``Setup.java:38-43``; snapshots via ``newAppend().commit()``,
``IcebergJavaApiAppend.java:92-94``). This module supplies the same two
capabilities Spark-natively:

- :func:`register_views` / :func:`load_table` — name -> DataFrame over the
  driver-provided parquet star schema (``TESTDATA.md``).
- :class:`LocalTable` — a minimal snapshot-versioned table on a directory:
  every commit writes an immutable parquet snapshot dir plus an immutable
  versioned metadata file published by an atomic compare-and-swap
  (``os.link`` of a complete temp file — fails iff the version already
  exists), giving append / overwrite / time-travel reads and real
  optimistic concurrency: of two racing committers exactly one wins and
  the loser raises :class:`CommitConflictError`. On top of that commit
  protocol: changelog scans (:meth:`LocalTable.change_feed`),
  write-audit-publish staging (``stage``/``publish``/``drop_staged``),
  per-commit partition specs (partition evolution), and the maintenance
  procedures (``compact``, staged-aware ``expire_snapshots``,
  ``remove_orphans`` with a grace period). These are the observable
  semantics of Iceberg's snapshot layer without the connector jar. On a
  cluster the same API is backed by the real Iceberg catalog (see
  ``sources/iceberg_compat.py``); nothing above this layer changes.
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (columnar parquet scan; Catalyst gets
    pushdown + pruning for free because this is a plain file scan).

    ``events.ts`` has shipped as either parquet TIMESTAMP(MICROS)
    (current testdata — read as TIMESTAMP_NTZ) or TIMESTAMP(NANOS)
    (earlier rounds — rejected by the vectorized reader unless
    ``nanosAsLong`` surfaces it as raw int64). The dtype dispatch below
    normalizes the nanos case to a µs TIMESTAMP_NTZ; physical types are
    NOT stable across testdata regenerations, so both branches stay.
    """
    # Defensive session confs: the driver supplies its own SparkSession,
    # which may lack these (both are runtime-settable). Without
    # nanosAsLong the events scan throws PARQUET_TYPE_ILLEGAL; without
    # UTC the µs-epoch → timestamp conversion below would render in an
    # arbitrary local zone and break oracle comparison.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        # NTZ, like every other testdata timestamp column: tz-naive values
        # cross the arrow/oracle boundary identically to DuckDB's TIMESTAMP
        # (a tz-aware column would compare unequal under strict tooling)
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> dict[str, DataFrame]:
    """Register testdata tables as temp views (SQL entry point EP1).
    Pass ``tables`` to register only what a query needs — registering all
    ten costs ten footer reads and clobbers same-named caller views."""
    out: dict[str, DataFrame] = {}
    for name in tables if tables is not None else TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def scratch_root() -> str:
    """Root for query-internal TRANSIENT writes (scenario tables, staged
    snapshots — per-invocation lifetime, nothing durable). Preference
    order: ``SPARK_GRAFT_SCRATCH_ROOT`` env override, then ``/dev/shm``
    (RAM-backed: scenario queries are write-heavy and small, so tmpfs
    removes disk latency/contention from their cost — the local-mode
    analogue of pointing ``spark.local.dir`` at fast ephemeral storage),
    then the system tempdir. All LocalTable commit atomicity (mkstemp +
    hard-link CAS) holds on tmpfs."""
    env = os.environ.get("SPARK_GRAFT_SCRATCH_ROOT")
    if env:
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        # tmpfs can be tiny (Docker defaults /dev/shm to 64 MB); only
        # prefer it when there is real headroom for write-heavy scenario
        # queries, else ENOSPC where plain /tmp would have worked
        try:
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize >= 2 * 1024**3:
                return shm
        except OSError:
            pass
    import tempfile

    return tempfile.gettempdir()


def scratch_dir(sf_dir: str, name: str, fresh: bool = False) -> str:
    """Per-process scratch path for query-internal writes:
    ``<scratch_root>/ies_<name>_<sf-tag>_<pid>``. The pid suffix isolates
    concurrent processes (bench + pytest racing on one path would rmtree
    snapshots out from under each other's lazy jobs); ``fresh`` clears
    leftovers from a previous run of THIS pid."""
    import shutil

    tag = os.path.basename(os.path.normpath(sf_dir))
    path = f"{scratch_root()}/ies_{name}_{tag}_{os.getpid()}"
    if fresh:
        shutil.rmtree(path, ignore_errors=True)
    return path


class CommitConflictError(RuntimeError):
    """Another writer committed the same version first (optimistic-
    concurrency conflict — Iceberg's ``CommitFailedException``). The table
    is untouched by the losing commit; the caller may re-read and retry
    the whole operation against the new current snapshot."""


def publish_version(path: str, text: str) -> None:
    """Publish ``text`` as the immutable metadata version ``path`` — the
    one commit point of both table layouts (``LocalTable`` and
    ``IcebergNativeTable``). Iceberg's optimistic metadata swap
    (``IcebergJavaApiAppend.java:92-94``) on a posix filesystem: the
    text goes to a temp file in the same directory, which ``os.link``
    then gives the version name. The link fails with ``FileExistsError``
    iff another committer published that version first, so of two
    committers that read version N and race for N+1 exactly one wins;
    the loser raises :class:`CommitConflictError` with no effect on the
    table. A version name therefore only ever names a complete file: a
    writer killed before the link leaves just its ``*.json.tmp``, which
    orphan sweeps reclaim after their grace period."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".json.tmp")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(text)
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise CommitConflictError(
                f"{os.path.basename(path)} was committed concurrently; "
                "re-read and retry the operation"
            ) from None
    finally:
        os.unlink(tmp)


class LocalTable:
    """Snapshot-versioned parquet table (lakehouse-lite).

    Layout::

        <root>/snap-00000-<token>/    immutable parquet files of snapshot 0
        <root>/snap-00001-<token>/    ...  (token = unique per commit attempt)
        <root>/_metadata.v00000.json  complete metadata as of version 0
        <root>/_metadata.v00001.json  ...  (current = highest version file)

    Each metadata file is immutable and complete (full snapshot log), and
    is published by :func:`publish_version`, a compare-and-swap on
    ``current``: of two racing committers that both read version N and
    try to publish N+1, exactly one succeeds; the loser raises
    :class:`CommitConflictError` with no effect on the table. Each
    snapshot records its parent, operation, and schema for time travel
    and audit.
    """

    META_PREFIX = "_metadata.v"
    META_SUFFIX = ".json"

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---- metadata -------------------------------------------------------
    def _meta_path(self, version: int) -> str:
        return os.path.join(
            self.root, f"{self.META_PREFIX}{version:05d}{self.META_SUFFIX}"
        )

    def _meta_versions(self) -> list[int]:
        try:
            names = os.listdir(self.root)
        except FileNotFoundError:
            return []
        out = []
        for n in names:
            if n.startswith(self.META_PREFIX) and n.endswith(self.META_SUFFIX):
                core = n[len(self.META_PREFIX) : -len(self.META_SUFFIX)]
                if core.isdigit():
                    out.append(int(core))
        return sorted(out)

    def _read_meta_versioned(self) -> tuple[dict, int]:
        """Read the latest metadata AND the metadata-file version it came
        from. Every commit must publish at (that version + 1): deriving
        the publish version from the SAME listing that produced the
        snapshot state is what makes the os.link publish a true
        compare-and-swap — re-listing at publish time would let a commit
        that landed in between be silently overwritten (lost update)
        instead of raising CommitConflictError."""
        versions = self._meta_versions()
        if not versions:
            return {"current": -1, "snapshots": []}, -1
        with open(self._meta_path(versions[-1])) as f:
            return json.load(f), versions[-1]

    def _read_meta(self) -> dict:
        return self._read_meta_versioned()[0]

    def _publish_meta(self, meta: dict, version: int) -> None:
        """Publish complete metadata as the given version (see
        :func:`publish_version`)."""
        publish_version(self._meta_path(version), json.dumps(meta, indent=2))

    # ---- snapshot surface ----------------------------------------------
    @property
    def current_version(self) -> int:
        return self._read_meta()["current"]

    def snapshots(self) -> list[dict]:
        """Snapshot log — the engine's ``#history``/``#snapshots`` metadata
        surface (reference: ``IcebergHadoopTables.java:44-47``)."""
        return self._read_meta()["snapshots"]

    def exists(self) -> bool:
        return self.current_version >= 0

    def drop(self) -> None:
        """DROP TABLE: remove the table root — data, metadata, refs.
        Iceberg's PURGE semantics; the catalog entry (the caller's
        ``tables`` mapping) is the caller's to remove."""
        import shutil

        shutil.rmtree(self.root, ignore_errors=True)

    def _snap_path(self, version: int, meta: dict | None = None) -> str:
        """Data dir of a committed snapshot, from its metadata entry."""
        meta = self._read_meta() if meta is None else meta
        for snap in meta["snapshots"]:
            if snap["version"] == version:
                return os.path.join(self.root, snap["path"])
        raise FileNotFoundError(
            f"table {self.root} has no snapshot version {version}"
        )

    @staticmethod
    def _pinned_versions(meta: dict) -> set[int]:
        """Versions protected by named refs — Iceberg's reference
        retention: a tag pins its target; a BRANCH pins its head plus the
        head's staged ancestry (the branch's own lineage), so neither
        expiry sweeps nor drop_staged can sever the parent chain that
        fast_forward walks. Main-history ancestors below the fork point
        are NOT pinned: snapshots are self-contained data dirs, so branch
        reads never need them, and ordinary retention applies."""
        by_version = {s["version"]: s for s in meta["snapshots"]}
        pinned: set[int] = set()
        for r in meta.get("refs", {}).values():
            v = r["version"]
            pinned.add(v)
            if r["type"] == "branch":
                snap = by_version.get(v)
                while snap is not None and snap.get("staged"):
                    pinned.add(snap["version"])
                    snap = by_version.get(snap["parent"])
        return pinned

    @staticmethod
    def _next_snapshot_version(meta: dict) -> int:
        """Next snapshot version: one past the highest version EVER minted
        — live snapshots, expired/dropped ones (recorded in the
        ``expired`` log), and ``current``. Monotonicity matters: a staged
        snapshot occupies a version above current (a racing data commit
        must not collide with it), and an expired or dropped version must
        never be re-minted — a slow WAP writer still holding version v
        must get FileNotFoundError on read(v), not another snapshot's
        data."""
        versions = [s["version"] for s in meta["snapshots"]] + [
            e["version"] for e in meta.get("expired", [])
        ]
        return max(versions, default=meta["current"]) + 1

    def _commit(
        self,
        df: DataFrame,
        operation: str,
        partition_by: list[str] | None,
        staged: bool = False,
        parent: int | None = None,
        move_ref: str | None = None,
        expect_head: int | None = None,
        expect_current: int | None = None,
    ) -> int:
        # Metadata-file versions advance on every publish (data commits,
        # staged commits, AND expiry); snapshot versions are minted by
        # data AND staged commits (both write a data dir) but `current`
        # only advances on data commits — same split as Iceberg's
        # metadata.json sequence vs snapshot ids vs the main branch. The
        # publish version comes from the same read as the state (see
        # _read_meta_versioned) so the CAS cannot lose a racing commit.
        import time

        meta, read_version = self._read_meta_versioned()
        meta_version = read_version + 1
        if expect_current is not None and meta["current"] != expect_current:
            # Serializable-derivation guard: the caller computed ``df``
            # FROM a read of snapshot ``expect_current`` (append's union,
            # compact's rewrite, a MERGE's join). The metadata CAS alone
            # only protects THIS function's read→publish window — a
            # commit that landed between the caller's base read and here
            # would be silently erased by publishing data derived from
            # the stale base (a lost update, caught by the threaded
            # append-storm test). Surface the conflict; the caller
            # re-reads and retries, exactly like losing the CAS.
            raise CommitConflictError(
                f"table advanced to {meta['current']} since the operation "
                f"read snapshot {expect_current}; re-read and retry"
            )
        if move_ref is not None:
            # re-validate against the SAME read the CAS publish is built
            # on: if the branch moved (or was dropped) since the caller
            # read its head, this commit would silently discard the other
            # writer's rows — surface the conflict instead; the CAS then
            # guarantees nothing lands between this read and our publish
            # expect_head defaults to the recorded parent; an overwrite
            # commit that COLLAPSES the chain (parent = superseded head's
            # parent) still validates against the head it actually read
            expected = parent if expect_head is None else expect_head
            ref = meta.get("refs", {}).get(move_ref)
            if ref is None or ref.get("type") != "branch" or ref["version"] != expected:
                raise CommitConflictError(
                    f"branch {move_ref!r} moved or was dropped since its "
                    f"head ({expected}) was read; re-read and retry"
                )
        if partition_by is None and operation != "create":
            # (a CREATE [OR REPLACE] defines its own layout: no spec
            # given means unpartitioned, never the replaced table's —
            # the engines' CREATE OR REPLACE contract)
            # Inherit the derivation-base snapshot's partition spec: a
            # partitioned table must stay partitioned through append /
            # overwrite / compact / DML rewrites (round-8 audit: one
            # append silently flattened the layout, losing partition
            # pruning for every later read — at scale the whole point of
            # the spec). Explicit specs still win (partition evolution
            # passes the new one; ``[]`` is the explicit unpartitioned
            # spelling). Columns no longer in the frame drop out of the
            # inherited spec (schema evolution may remove a partition
            # column; the engines require spec evolution first — the
            # tolerant subset keeps the remaining layout).
            basis = parent if parent is not None else meta["current"]
            bsnap = next(
                (s for s in meta["snapshots"] if s["version"] == basis),
                None,
            )
            inherited = (bsnap or {}).get("partition_by") or []
            # Case-insensitive match, mapped back to the frame's actual
            # spelling: append/unionByName resolve names case-insensitively
            # (Spark's default), so a frame carrying the partition column in
            # different case must keep the layout, not silently flatten it
            # (round-8 ADVICE).
            by_fold = {c.lower(): c for c in df.columns}
            partition_by = [
                by_fold[c.lower()] for c in inherited if c.lower() in by_fold
            ] or None
        version = self._next_snapshot_version(meta)
        # Unique (token-suffixed) data dir per commit ATTEMPT, so two racing
        # committers never write into each other's files; the metadata CAS
        # below decides whose dir becomes the snapshot (Iceberg's unique
        # data-file-name + metadata-swap protocol).
        token = uuid.uuid4().hex[:8]
        relpath = f"snap-{version:05d}-{token}"
        path = os.path.join(self.root, relpath)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        entry = {
            "version": version,
            "parent": meta["current"] if parent is None else parent,
            "operation": operation,
            "path": relpath,
            "schema": df.schema.jsonValue(),
            "partition_by": partition_by or [],
            "committed_at": time.time(),
        }
        if staged:
            entry["staged"] = True
        else:
            meta["current"] = version
        if move_ref is not None:
            # branch write: the ref head advances with this commit, under
            # the same CAS — a racing branch writer loses the link and
            # retries against the moved head, never silently forking
            meta.setdefault("refs", {})[move_ref] = {
                "type": "branch",
                "version": version,
            }
        meta["snapshots"].append(entry)
        try:
            self._publish_meta(meta, meta_version)
        except CommitConflictError:
            # Lost the race: another writer published this version first.
            # Our staged data dir is unreachable garbage — remove it so the
            # winner's table has no orphan data, then surface the conflict.
            import shutil

            shutil.rmtree(path, ignore_errors=True)
            raise
        return version

    # ---- public API -----------------------------------------------------
    def create(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        replace: bool = False,
    ) -> int:
        """CREATE TABLE: refuses an existing table (the engines'
        TABLE_ALREADY_EXISTS — a silent re-create replaced schema AND
        contents in one call, round-8 audit). ``replace=True`` is the
        explicit CREATE OR REPLACE spelling."""
        if not replace and self.exists():
            raise ValueError(
                f"table {self.root} already exists (version "
                f"{self.current_version}); use replace=True for "
                "CREATE OR REPLACE semantics"
            )
        return self._commit(df, "create", partition_by)

    def overwrite(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        expect_current: int | None = None,
    ) -> int:
        """Replace table contents (copy-on-write commit). Pass
        ``expect_current`` when ``df`` was DERIVED from a read of that
        snapshot (a MERGE/UPDATE/DELETE rewrite): the commit then raises
        :class:`CommitConflictError` if the table advanced past it,
        instead of silently erasing the concurrent commit."""
        return self._commit(
            df, "overwrite", partition_by, expect_current=expect_current
        )

    def append(self, df: DataFrame) -> int:
        """Append = previous snapshot ∪ new rows, committed as a new
        immutable snapshot (the ``newAppend().appendFile().commit()``
        observable semantics). The union is pinned to the snapshot read
        HERE and the commit carries ``expect_current`` — a concurrent
        commit between this read and the publish raises
        CommitConflictError (retryable) rather than being erased by the
        stale union (lost update).

        Schema contract (Iceberg's write validation): a frame carrying a
        column the table does NOT have is rejected — a typo'd column
        name must not silently widen the schema mid-append (evolution is
        an explicit ALTER/overwrite, never a write side effect). A frame
        MISSING table columns null-fills them (the optional-column write
        Iceberg permits via name mapping)."""
        base = self.current_version
        if base >= 0:
            base_df = self.read(base)
            # case-INSENSITIVE membership: the unionByName this guards
            # resolves names case-insensitively (spark.sql.caseSensitive
            # defaults false), as does Iceberg's write resolution
            tlower = {c.lower() for c in base_df.columns}
            extra = [c for c in df.columns if c.lower() not in tlower]
            if extra:
                raise ValueError(
                    f"append schema mismatch: column(s) {extra} not in "
                    f"table schema {base_df.columns}; evolve the schema "
                    "explicitly (ALTER TABLE / overwrite) before appending"
                )
            df = base_df.unionByName(df, allowMissingColumns=True)
        return self._commit(df, "append", None, expect_current=base if base >= 0 else None)

    def rollback(self, version: int) -> int:
        """Iceberg ``rollback_to_snapshot``: move ``current`` back to an
        EXISTING snapshot — metadata-only (no data rewritten, the bad
        snapshot stays in history for forensics until expiry), published
        under the same CAS as every commit. The rollback itself is
        recorded as a new snapshot entry whose data path IS the old
        snapshot's (parent = the abandoned head), so the history shows
        what happened — exactly Iceberg's observable contract, where
        rollback writes new metadata.json pointing at the old snapshot."""
        meta, read_version = self._read_meta_versioned()
        snaps = {s["version"]: s for s in meta["snapshots"]}
        if version not in snaps or snaps[version].get("staged"):
            raise FileNotFoundError(
                f"no published snapshot {version} to roll back to"
            )
        import time

        target = snaps[version]
        new_version = self._next_snapshot_version(meta)
        meta["snapshots"].append(
            {
                "version": new_version,
                "parent": meta["current"],
                "operation": f"rollback-to-{version}",
                "path": target["path"],
                "schema": target["schema"],
                "partition_by": target.get("partition_by", []),
                "committed_at": time.time(),
            }
        )
        meta["current"] = new_version
        self._publish_meta(meta, read_version + 1)
        return new_version

    def read(self, version: int | str | None = None) -> DataFrame:
        """Read current, time-travel to a snapshot version, or read a
        named ref (``read("my-tag")`` — Iceberg ``VERSION AS OF 'ref'``)."""
        meta = self._read_meta()
        if isinstance(version, str):
            refs = meta.get("refs", {})
            if version not in refs:
                raise FileNotFoundError(
                    f"table {self.root} has no ref named {version!r}"
                )
            version = refs[version]["version"]
        v = meta["current"] if version is None else version
        if v < 0:
            raise FileNotFoundError(f"table {self.root} has no snapshots")
        return self.spark.read.parquet(self._snap_path(v, meta))

    @staticmethod
    def _align_for_diff(a: DataFrame, b: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Project both frames onto the UNION of their columns (sorted,
        missing ones null-filled with the type from the frame that has
        them) so exceptAll can diff across a schema-evolution boundary —
        ADD/DROP/RENAME COLUMN are first-class commits here, and a
        changelog scan spanning one must not crash. A row whose only
        difference is a column the other snapshot lacks shows as
        delete+insert, which is the honest answer."""
        from pyspark.sql import functions as F

        types = {**dict(b.dtypes), **dict(a.dtypes)}
        cols = sorted(types)

        def fill(df: DataFrame) -> DataFrame:
            have = set(df.columns)
            return df.select(
                *[
                    F.col(c) if c in have else F.lit(None).cast(types[c]).alias(c)
                    for c in cols
                ]
            )

        return fill(a), fill(b)

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental read: rows present in ``to_version`` but not in
        ``from_version`` (Iceberg incremental-scan analogue; appended rows
        for append-only history, net-new rows across overwrites). Bag
        semantics via exceptAll so duplicate appended rows are kept.
        Schema-evolution-safe: snapshots are aligned on the column union
        before the diff (see :meth:`_align_for_diff`)."""
        newer, older = self._align_for_diff(
            self.read(to_version), self.read(from_version)
        )
        return newer.exceptAll(older)

    def change_feed(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Changelog scan between two snapshots (Iceberg's
        ``create_changelog_view`` / Delta CDF analogue): every row that
        differs between the versions, tagged ``_change_type`` = 'insert'
        (present only in the newer snapshot) or 'delete' (present only in
        the older). Updates appear as delete+insert pairs — the
        row-identity-free formulation, exactly what a downstream
        incremental consumer (sync, materialized view) needs.

        Bag semantics via exceptAll (duplicate rows produce one change
        row per surplus copy). Cost: two anti-diffs = one shuffle each on
        the full row; at scale a keyed table would diff on (key, hash)
        instead — same plan shape, narrower rows."""
        from pyspark.sql import functions as F

        # Resolve 'current' exactly once so both halves diff against the
        # same 'to' snapshot even if a commit lands mid-computation.
        if to_version is None:
            to_version = self.current_version

        inserts = self.changes(from_version, to_version).withColumn(
            "_change_type", F.lit("insert")
        )
        older, newer = self._align_for_diff(
            self.read(from_version), self.read(to_version)
        )
        deletes = older.exceptAll(newer).withColumn(
            "_change_type", F.lit("delete")
        )
        return inserts.unionByName(deletes)

    def compact(self, target_files: int = 1) -> int:
        """Small-file compaction: rewrite the current snapshot into
        ``target_files`` files as a new snapshot (Iceberg
        rewrite_data_files analogue). Data is unchanged — only layout.
        Pinned + expect_current like append: losing a concurrent commit
        raises instead of reverting it to the compacted old state."""
        base = self.current_version
        df = self.read(base).coalesce(target_files)
        return self._commit(df, "compact", None, expect_current=base)

    # ---- write-audit-publish (WAP) --------------------------------------
    def stage(
        self,
        df: DataFrame,
        operation: str = "wap-append",
        expect_current: int | None = None,
    ) -> int:
        """Write-Audit-Publish step 1: commit DATA and a snapshot entry
        WITHOUT advancing ``current`` — readers keep seeing the old table
        while the staged snapshot is audited (Iceberg's
        ``spark.wap.branch`` / cherry-pick workflow). Returns the staged
        snapshot version, readable via ``read(version)`` for audit.
        Same write+CAS path as every data commit (``_commit``), just
        without the current-pointer advance.

        Pass ``expect_current`` = the snapshot version ``df`` was DERIVED
        from whenever other writers may be active: the staged entry's
        recorded parent otherwise comes from _commit's FRESH metadata
        read, so a data commit landing between the caller's base read and
        the stage would make :meth:`publish`'s current==parent check pass
        against a parent the staged data never saw — fast-forwarding to a
        state that silently lacks the concurrent commit's rows (the
        lost-update interleaving the threaded WAP storm test caught)."""
        return self._commit(
            df, operation, None, staged=True, expect_current=expect_current
        )

    def publish(self, version: int) -> None:
        """WAP step 3: fast-forward ``current`` to an audited staged
        snapshot. Refuses (CommitConflictError) if another commit
        advanced the table past the staged snapshot's parent — the
        staged data was derived from a state that no longer is the head,
        so the caller must re-stage against the new head."""
        meta, read_version = self._read_meta_versioned()
        snap = next(
            (s for s in meta["snapshots"] if s["version"] == version), None
        )
        if snap is None or not snap.get("staged"):
            raise ValueError(f"version {version} is not a staged snapshot")
        if meta["current"] != snap["parent"]:
            raise CommitConflictError(
                f"table advanced to {meta['current']} since version "
                f"{version} was staged on {snap['parent']}; re-stage"
            )
        snap.pop("staged")
        meta["current"] = version
        self._publish_meta(meta, read_version + 1)

    def drop_staged(self, version: int) -> None:
        """Abandon a staged snapshot that failed its audit: remove its
        metadata entry, then its data dir (same publish-then-delete order
        as expiry). The version is recorded in the ``expired`` log so it
        is never re-minted (see :meth:`_next_snapshot_version`)."""
        import shutil

        meta, read_version = self._read_meta_versioned()
        snap = next(
            (s for s in meta["snapshots"] if s["version"] == version), None
        )
        if snap is None or not snap.get("staged"):
            raise ValueError(f"version {version} is not a staged snapshot")
        if version in self._pinned_versions(meta):
            raise ValueError(
                f"version {version} is referenced by a named ref "
                "(a tag target or a live branch's lineage); drop the "
                "ref first"
            )
        meta["snapshots"] = [
            s for s in meta["snapshots"] if s["version"] != version
        ]
        meta["expired"] = meta.get("expired", []) + [
            {"version": version, "operation": snap["operation"]}
        ]
        self._publish_meta(meta, read_version + 1)
        shutil.rmtree(os.path.join(self.root, snap["path"]), ignore_errors=True)

    # ---- named refs: tags + branches ------------------------------------
    # Iceberg's snapshot-reference surface (ALTER TABLE ... CREATE TAG /
    # CREATE BRANCH, reads via VERSION AS OF 'ref', branch writes +
    # fast_forward): refs live in table metadata as {name: {type,
    # version}}, published through the same CAS as every commit, and pin
    # their snapshots against expiry.

    def refs(self) -> dict:
        """All named refs: ``{name: {"type": "tag"|"branch", "version": v}}``."""
        return dict(self._read_meta().get("refs", {}))

    def _set_ref(self, name: str, ref_type: str, version: int | None) -> int:
        meta, read_version = self._read_meta_versioned()
        v = meta["current"] if version is None else version
        snap = next(
            (s for s in meta["snapshots"] if s["version"] == v), None
        )
        if snap is None:
            raise FileNotFoundError(
                f"table {self.root} has no snapshot version {v}"
            )
        refs = meta.setdefault("refs", {})
        if name in refs:
            raise ValueError(
                f"ref {name!r} already exists ({refs[name]['type']} at "
                f"version {refs[name]['version']}); drop it first"
            )
        refs[name] = {"type": ref_type, "version": v}
        self._publish_meta(meta, read_version + 1)
        return v

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Immutable named pointer to a snapshot (default: current).
        Tags never move; re-tagging requires an explicit drop_ref."""
        return self._set_ref(name, "tag", version)

    def create_branch(self, name: str, version: int | None = None) -> int:
        """Movable head starting at a snapshot (default: current).
        Advance it with :meth:`append_to_branch`; land it on main with
        :meth:`fast_forward`."""
        return self._set_ref(name, "branch", version)

    def drop_ref(self, name: str) -> None:
        """Remove a tag or branch. Snapshots it pinned become ordinary
        history, expirable by the next retention pass (branch snapshots
        off the main lineage stay ``staged`` and are reclaimed via
        ``expire_snapshots(max_staged_age_s=...)``)."""
        meta, read_version = self._read_meta_versioned()
        refs = meta.get("refs", {})
        if name not in refs:
            raise ValueError(f"no ref named {name!r}")
        del refs[name]
        self._publish_meta(meta, read_version + 1)

    def resolve_ref(self, name: str) -> int:
        """Ref name -> snapshot version (Iceberg ``VERSION AS OF 'ref'``)."""
        refs = self._read_meta().get("refs", {})
        if name not in refs:
            raise FileNotFoundError(
                f"table {self.root} has no ref named {name!r}"
            )
        return refs[name]["version"]

    def _branch_head(self, name: str) -> int:
        refs = self._read_meta().get("refs", {})
        if name not in refs or refs[name]["type"] != "branch":
            raise ValueError(f"{name!r} is not a branch")
        return refs[name]["version"]

    def append_to_branch(self, name: str, df: DataFrame) -> int:
        """Branch write: head-content ∪ new rows committed as a snapshot
        whose PARENT is the branch head (not main), with the branch ref
        moved to it in the same CAS publish. ``current`` is untouched —
        main's readers never see branch-only rows (Iceberg's
        write-to-branch semantics). The snapshot is marked staged so
        default expiry never reclaims a live branch's history. Same
        schema contract as append: unknown columns are rejected."""
        head = self._branch_head(name)
        head_df = self.read(head)
        hlower = {c.lower() for c in head_df.columns}
        extra = [c for c in df.columns if c.lower() not in hlower]
        if extra:
            raise ValueError(
                f"branch-append schema mismatch: column(s) {extra} not "
                f"in branch schema {head_df.columns}; evolve the schema "
                "explicitly"
            )
        data = head_df.unionByName(df, allowMissingColumns=True)
        return self._commit(
            data, "branch-append", None, staged=True, parent=head,
            move_ref=name,
        )

    def overwrite_branch(self, name: str, df: DataFrame) -> int:
        """Branch write with replace semantics — the complete-output-mode
        streaming sink shape (each epoch's state replaces the branch
        head; main is untouched until fast_forward lands the audited
        result). Same staged+ref-move CAS commit as
        :meth:`append_to_branch`, with one difference: when the head
        being replaced is itself a branch-overwrite epoch, the new
        snapshot's PARENT is the superseded head's parent, collapsing the
        chain. Snapshots are self-contained data dirs, so neither branch
        reads nor :meth:`fast_forward` need the replaced epoch — without
        the collapse a long-running stream would pin one full table copy
        per epoch (every intermediate sat in the head's staged ancestry,
        unreclaimable by drop_staged or expiry until the ref dropped).
        The superseded epoch becomes an unpinned staged snapshot,
        reclaimed by :meth:`drop_staged` or
        ``expire_snapshots(max_staged_age_s=...)``; the CAS still
        validates against the head actually read (``expect_head``), so a
        racing branch writer conflicts instead of silently forking."""
        head = self._branch_head(name)
        meta = self._read_meta()
        snap = next(
            (s for s in meta["snapshots"] if s["version"] == head), None
        )
        parent = head
        if (
            snap is not None
            and snap.get("staged")
            and snap.get("operation") == "branch-overwrite"
        ):
            parent = snap["parent"]
        return self._commit(
            df, "branch-overwrite", None, staged=True, parent=parent,
            move_ref=name, expect_head=head,
        )

    def fast_forward(self, name: str) -> int:
        """Fast-forward main to a branch head, iff main is an ancestor of
        it (Iceberg's ``fast_forward`` procedure). Walks the parent chain
        from the head back to ``current``; refuses (CommitConflictError)
        if main diverged — the branch must be rebuilt from the new head.
        Snapshots along the path lose their staged flag: they are main
        history now."""
        meta, read_version = self._read_meta_versioned()
        refs = meta.get("refs", {})
        if name not in refs or refs[name]["type"] != "branch":
            raise ValueError(f"{name!r} is not a branch")
        head = refs[name]["version"]
        by_version = {s["version"]: s for s in meta["snapshots"]}
        path = []
        v = head
        while v != meta["current"]:
            snap = by_version.get(v)
            if snap is None:
                raise CommitConflictError(
                    f"main ({meta['current']}) is not an ancestor of branch "
                    f"{name!r} ({head}); re-branch from the current head"
                )
            path.append(snap)
            v = snap["parent"]
        for snap in path:
            snap.pop("staged", None)
        meta["current"] = head
        self._publish_meta(meta, read_version + 1)
        return head

    # Default orphan grace period: matches Iceberg's remove_orphan_files
    # older_than default (3 days).
    ORPHAN_GRACE_S = 3 * 24 * 3600

    def remove_orphans(self, older_than_s: float | None = None) -> int:
        """Table maintenance: delete ``snap-*`` data dirs not referenced
        by any snapshot in the current metadata (Iceberg's
        ``remove_orphan_files``). Orphans arise from crashed commits —
        a writer that wrote its data dir but died before the metadata
        CAS.

        ``older_than_s`` (default 3 days, Iceberg's default): only dirs
        whose mtime is older than this are deleted. The grace period is
        what makes the sweep safe against an IN-FLIGHT commit — a racing
        writer that has written its data dir but not yet won the metadata
        CAS would otherwise have its directory swept and publish a
        snapshot pointing at nothing. Pass ``0`` only when no writer can
        be active (tests, single-process maintenance windows).

        Metadata is untouched (orphans are by definition outside it);
        returns the number of dirs removed."""
        import shutil
        import time

        grace = self.ORPHAN_GRACE_S if older_than_s is None else older_than_s
        if grace < 0:
            # a negative grace puts the cutoff in the future and would
            # sweep a racing in-flight commit's dir — the exact hazard
            # the grace period exists to prevent
            raise ValueError("older_than_s must be >= 0")
        cutoff = time.time() - grace
        meta = self._read_meta()
        referenced = {s["path"] for s in meta["snapshots"]}
        removed = 0
        for name in os.listdir(self.root):
            path = os.path.join(self.root, name)
            # a publisher killed hard (SIGKILL skips the finally-unlink)
            # leaves its mkstemp .json.tmp behind; metadata reads ignore
            # them, but they are orphans too — same grace period applies
            # (an IN-FLIGHT publisher's tmp must survive the sweep)
            if name.endswith(".json.tmp"):
                try:
                    if os.path.getmtime(path) <= cutoff:
                        os.unlink(path)
                        removed += 1
                except OSError:
                    pass
                continue
            if not name.startswith("snap-") or name in referenced:
                continue
            try:
                if os.path.getmtime(path) > cutoff:
                    continue
            except OSError:
                continue
            shutil.rmtree(path, ignore_errors=True)
            if not os.path.exists(path):  # count only actual deletions
                removed += 1
        return removed

    def expire_snapshots(
        self, keep_last: int = 2, max_staged_age_s: float | None = None
    ) -> int:
        """Table maintenance: drop all but the last ``keep_last`` data
        snapshots (always retaining the current one) and delete their
        data dirs — Iceberg's ``expireSnapshots()`` / ``expire_snapshots``
        procedure.

        The retention change is itself a CAS-published metadata-only
        version (no new snapshot, ``current`` unchanged), so a racing data
        commit and an expiry serialize exactly like two data commits: one
        wins the link, the loser retries against fresh metadata. Data dirs
        are removed only AFTER the metadata publish succeeds — a reader
        holding the old metadata file may race the rmtree, which is the
        same read-after-expire hazard real Iceberg has (hence retention
        windows in production).

        Staged (WAP) snapshots are pending work, not history, so by
        default they are never expired. But a WAP writer that crashed
        between ``stage`` and ``publish``/``drop_staged`` would pin its
        snapshot forever; ``max_staged_age_s`` is the escape hatch
        (Iceberg's max-snapshot-age analogue for branch snapshots):
        staged snapshots older than it are dropped with the expiry.

        Returns the number of snapshots expired (data + aged-out staged).
        """
        import shutil
        import time

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        meta, read_version = self._read_meta_versioned()
        snaps = meta["snapshots"]
        # ref-pinned snapshots (tag targets; branch heads + their staged
        # lineage) are never expired — Iceberg's reference-retention rule;
        # drop the ref to release them
        pinned = self._pinned_versions(meta)
        data_snaps = [s for s in snaps if not s.get("staged")]
        staged_snaps = [s for s in snaps if s.get("staged")]
        stale_staged = []
        if max_staged_age_s is not None:
            if max_staged_age_s < 0:
                raise ValueError("max_staged_age_s must be >= 0")
            now = time.time()
            # missing committed_at (entry written by an older engine
            # version) means unknown age — treat as infinitely old: the
            # escape hatch exists precisely for long-abandoned snapshots
            stale_staged = [
                s
                for s in staged_snaps
                if now - s.get("committed_at", 0.0) > max_staged_age_s
                and s["version"] not in pinned
            ]
            staged_snaps = [s for s in staged_snaps if s not in stale_staged]
        if len(data_snaps) <= keep_last and not stale_staged:
            return 0
        # current is always the max data snapshot (data commits advance
        # it; staged commits don't), so the keep_last tail contains it.
        # A staged-only table (WAP stage before any data commit, current
        # -1) has nothing to retain — the check only applies when a data
        # lineage exists.
        retained = data_snaps[-keep_last:]
        if data_snaps and not any(
            s["version"] == meta["current"] for s in retained
        ):
            raise ValueError("retention window must include the current snapshot")
        pinned_extra = [
            s
            for s in data_snaps[: max(len(data_snaps) - keep_last, 0)]
            if s["version"] in pinned
        ]
        expired = [
            s
            for s in data_snaps[: max(len(data_snaps) - keep_last, 0)]
            if s["version"] not in pinned
        ] + stale_staged
        if not expired:
            return 0
        new_meta = dict(meta)
        new_meta["snapshots"] = sorted(
            retained + pinned_extra + staged_snaps, key=lambda s: s["version"]
        )
        new_meta["expired"] = meta.get("expired", []) + [
            {"version": s["version"], "operation": s["operation"]} for s in expired
        ]
        self._publish_meta(new_meta, read_version + 1)
        # Iceberg's expire rule deletes FILES no surviving snapshot
        # references, not snapshots' files blindly — a rollback entry
        # shares its data path with the snapshot it restored, so the dir
        # must survive if ANY retained snapshot still points at it.
        kept_paths = {snap["path"] for snap in new_meta["snapshots"]}
        for s in expired:
            if s["path"] not in kept_paths:
                shutil.rmtree(
                    os.path.join(self.root, s["path"]), ignore_errors=True
                )
        return len(expired)
