"""Pure snapshot-manifest resolution shared by the batch table
(``pipeline.writer.SnapshotTable``) and the streaming changelog source
(``streaming.cdc``).

Both readers must agree byte-for-byte on what a table's manifest chain
means — which files are canonical, which snapshots a compaction
replaced, when an expired snapshot poisons a range, when a
re-stamping compaction makes an incremental read unsafe, and which
Spark schema a set of snapshots is read under. Keeping the
rules here (module-level pure functions — picklable, so the
Python DataSource can ship them to executors) means they cannot drift
apart.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql.types import StructField, StructType

__all__ = ["list_snapshots", "resolve_live", "live_snapshots",
           "check_delta_range", "read_schema"]


def list_snapshots(root: str) -> list[dict]:
    """All canonical manifests under ``<root>/_snapshots``, sorted by id.

    Canonical means ``NNNNNN.json`` only: a writer racing this read has
    a half-written ``.tmp-<uuid>.json`` in the directory (commit is
    write-tmp -> link -> unlink); parsing it would crash the reader or
    double-count the snapshot it is about to become."""
    snap_dir = os.path.join(root, "_snapshots")
    snaps = []
    for f in os.listdir(snap_dir):
        if re.fullmatch(r"\d+\.json", f):
            with open(os.path.join(snap_dir, f)) as fh:
                snaps.append(json.load(fh))
    return sorted(snaps, key=lambda s: s["id"])


def resolve_live(snaps: list[dict], version: int | None = None
                 ) -> list[dict]:
    """Snapshot chain as of ``version``: compaction snapshots replace
    the snapshots they absorbed (manifest ``replaces``, Iceberg
    rewrite_data_files semantics); expired snapshots inside the
    requested range raise — their data files are gone."""
    snaps = [s for s in snaps if version is None or s["id"] <= version]
    replaced: set[int] = set()
    for s in snaps:
        replaced.update(s.get("replaces") or [])
    live = [s for s in snaps if s["id"] not in replaced]
    gone = [s["id"] for s in live if s.get("expired")]
    if gone:
        raise ValueError(
            f"read at version {version} needs expired snapshot(s) "
            f"{gone} — past the retention horizon")
    return live


def live_snapshots(root: str, version: int | None = None) -> list[dict]:
    """``resolve_live`` over the manifests on disk."""
    return resolve_live(list_snapshots(root), version)


def check_delta_range(snaps: list[dict], from_version: int,
                      label: str = "read changes") -> None:
    """Refuse an incremental range that crosses a RE-STAMPING
    compaction: its rewrite collapsed row history, so serving the range
    would report the whole table as freshly inserted (Iceberg's
    incremental-read-across-an-overwrite error). Stamp-preserving
    compactions (``mode='append'``, ``keep_versions>1``) are safe and
    pass. Manifests from before the ``preserved_ids`` flag existed are
    conservatively refused (missing key reads as unsafe)."""
    for s in snaps:
        if (s.get("replaces") and not s.get("preserved_ids")
                and any(r <= from_version for r in s["replaces"])):
            raise ValueError(
                f"cannot {label} since {from_version}: snapshot "
                f"{s['id']} is a re-stamping compaction of "
                f"{s['replaces']} — row history before it is collapsed "
                f"(compact with mode='append' or keep_versions>1 to "
                f"keep the changelog readable)")


def _nullable(t):
    """A schema's JSON with every nullability flag set: Spark reads
    parquet files as nullable whatever the writer declared."""
    if isinstance(t, dict):
        return {k: True if k in ("nullable", "containsNull",
                                 "valueContainsNull") else _nullable(v)
                for k, v in t.items()}
    if isinstance(t, list):
        return [_nullable(v) for v in t]
    return t


def read_schema(snaps: list[dict]) -> StructType:
    """The Spark schema that reads ``snaps`` together: the schema each
    manifest recorded at commit, merged by column name in snapshot
    order — a column first seen in a later snapshot is appended and
    reads as NULL in the older ones. A column recorded under two types
    raises ``ValueError`` naming it (nullability is not a difference;
    nested struct fields are compared whole, not merged)."""
    fields: dict[str, StructField] = {}
    for s in snaps:
        for f in StructType.fromJson(_nullable(s["schema"])):
            seen = fields.setdefault(f.name, f)
            if seen.dataType != f.dataType:
                raise ValueError(
                    f"column {f.name!r} is "
                    f"{seen.dataType.simpleString()} in an earlier "
                    f"snapshot but {f.dataType.simpleString()} in "
                    f"snapshot {s['id']}")
    return StructType(list(fields.values()))
