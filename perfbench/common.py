"""Pieces the workloads share: the per-operation record and the untimed
metadata walks behind the `sinks.*` layer counts."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from opentelemetry_iceberg_exporter_spark.sinks.avro_ocf import read_ocf


@dataclass
class OpRecord:
    i: int
    kind: str
    latency_s: float
    records: int = 0
    ok: bool = True
    error: str | None = None
    wall: tuple[float, float] = (0.0, 0.0)  # epoch start/end, for job attribution
    traced: bool = False
    spark: dict | None = None  # StageMetrics.collect() of a traced op
    layer: dict = field(default_factory=dict)  # workload-specific layer numbers


def local_path(uri: str) -> str:
    return uri[len("file:") :] if uri.startswith("file:") else uri


def snapshot_facts(md: dict, metadata_location: str | None = None) -> dict:
    """Untimed facts of a table's current snapshot: files and bytes it
    added, the manifests it references, and the metadata bytes its
    commit wrote (metadata JSON + manifest list + manifests it added)."""
    snap_id = md.get("current-snapshot-id")
    snap = next((s for s in md.get("snapshots", []) if s["snapshot-id"] == snap_id), None)
    if snap is None:
        return {}
    summary = snap.get("summary", {})
    parent = next(
        (s for s in md["snapshots"] if s["snapshot-id"] == snap.get("parent-snapshot-id")), None
    )
    parent_bytes = int(parent["summary"].get("total-files-size", 0)) if parent else 0
    mlist = local_path(snap["manifest-list"])
    _, _, manifests = read_ocf(mlist)
    meta_bytes = os.path.getsize(mlist) + sum(
        m["manifest_length"] for m in manifests if m.get("added_snapshot_id") == snap_id
    )
    if metadata_location:
        meta_bytes += os.path.getsize(local_path(metadata_location))
    return {
        "added_files": int(summary.get("added-data-files", 0))
        + int(summary.get("added-delete-files", 0)),
        "added_bytes": int(summary.get("total-files-size", 0)) - parent_bytes,
        "added_records": int(summary.get("added-records", 0)),
        "manifests": len(manifests),
        "metadata_bytes": meta_bytes,
    }
