"""Per-layer figures shared by the workloads: registry queries, native
table scans and the table's metadata tree (manifests and the Avro codec)."""

from __future__ import annotations

import json
import os
import time


def query_metrics(run, names: list[str]) -> dict:
    out = {}
    for n in names:
        out[f"query.{n}.wall_s"] = (run.median(f"query.{n}"), "s")
        out[f"query.{n}.jobs"] = (run.median(f"query.{n}", "jobs"), "count")
    return out


def _strip(path: str) -> str:
    return path[len("file:") :] if path.startswith("file:") else path


def current_tree(table) -> tuple[str, str, list[str]]:
    """(metadata file, manifest list, manifests) of the table's current
    snapshot, read from the on-disk layout."""
    from iceberg_examples_spark.sources.avro_codec import read_container

    meta_dir = os.path.join(table.location, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        meta_file = os.path.join(meta_dir, f"v{int(f.read().strip())}.metadata.json")
    with open(meta_file) as f:
        meta = json.load(f)
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"])
    manifest_list = _strip(snap["manifest-list"])
    with open(manifest_list, "rb") as f:
        _, _, manifests = read_container(f.read())
    return meta_file, manifest_list, [_strip(m["manifest_path"]) for m in manifests]


def live_bytes(table) -> int:
    """Bytes of the current snapshot's tree: metadata file, manifest
    list, manifests and the live data and delete files they list."""
    from iceberg_examples_spark.sources.avro_codec import read_container

    meta_file, manifest_list, manifests = current_tree(table)
    total = os.path.getsize(meta_file) + os.path.getsize(manifest_list)
    for path in manifests:
        total += os.path.getsize(path)
        with open(path, "rb") as f:
            entries = read_container(f.read())[2]
        total += sum(e["data_file"]["file_size_in_bytes"] for e in entries if e["status"] != 2)
    return total


def avro_decode(tables: list) -> tuple[float, int]:
    """(seconds per entry, entries) for decoding every manifest the
    tables' current snapshots list with ``avro_codec.read_container``."""
    from iceberg_examples_spark.sources.avro_codec import read_container

    blobs = []
    for t in tables:
        for p in current_tree(t)[2]:
            with open(p, "rb") as f:
                blobs.append(f.read())
    t0 = time.perf_counter()
    entries = sum(1 for b in blobs for _ in read_container(b)[2])
    elapsed = time.perf_counter() - t0
    return (elapsed / entries if entries else 0.0), entries


def table_metrics(run, tables: list) -> dict:
    """Scan planning vs execution (per pass) and the end state of the
    tables' metadata trees."""
    plan_jobs = run.per_pass("iceberg_native.scan_plan:jobs")
    per_entry, entries = avro_decode(tables)
    return {
        "iceberg_native.scan_plan_s": (run.per_pass("iceberg_native.scan_plan:wall_s"), "s"),
        "iceberg_native.scan_plan_driver_cpu_s": (
            run.per_pass("iceberg_native.scan_plan:driver_cpu_s"), "s"),
        "iceberg_native.scan_exec_s": (run.per_pass("iceberg_native.scan_exec:wall_s"), "s"),
        "iceberg_native.scan_jobs": (plan_jobs + run.per_pass("iceberg_native.scan_exec:jobs"), "count"),
        "iceberg_native.manifests": (sum(t.count_manifests() for t in tables), "count"),
        "iceberg_native.data_files": (sum(t.count_files(0) for t in tables), "count"),
        "iceberg_native.delete_files": (sum(t.count_files((1, 2)) for t in tables), "count"),
        "avro_codec.decode_s_per_entry": (per_entry, "s"),
        "avro_codec.entries": (entries, "count"),
    }
