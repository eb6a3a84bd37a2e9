"""Snapshot-committed parquet table (Iceberg-semantics fallback).

The sandbox has no Iceberg runtime jar, so table semantics are provided
by a minimal snapshot log: each commit writes parquet under
``data/snap-<id>/`` (write-then-manifest, atomic via ``os.replace``),
and a JSON manifest chain gives snapshot isolation, time travel
(SURVEY.md B12) and the idempotent resume anti-join (north rule).
Each manifest records its snapshot's Spark schema; reads scan under it
(``manifests.read_schema``) and never infer one.
On a real cluster this class is swapped for
``df.writeTo(tbl)`` / ``MERGE INTO`` on Iceberg — call sites only use
``commit`` / ``read`` / ``committed_keys``.

Mirrored semantics: one row per key with last-write-wins replace
(/root/reference/app/services/resume_service.py:106-182), versioned
reads (/root/reference/app/repositories/resume_repository.py:32-70).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType

from . import manifests as _manifests

__all__ = ["SnapshotTable", "SnapshotConflictError"]


class SnapshotConflictError(RuntimeError):
    """Two writers raced to the same snapshot id; the loser raises
    instead of clobbering (optimistic concurrency, Iceberg-style)."""


class SnapshotTable:
    def __init__(self, root: str, key_col: str = "url",
                 bloom_ndv: int | None = None):
        """Key-scoped reads (the B11 index) are served by manifest
        min/max stats, sorted compaction and, optionally, a key bloom
        filter. ``bloom_ndv``: write a parquet bloom filter on the key
        column sized for this many distinct keys per file (None = off, the
        default — the bloom is NDV-sized, ~1.2 bytes/key, REGARDLESS of
        the file's row count, so it only pays on the primary keyed
        table with realistically-sized files; audit/index side tables
        and small-batch commits would carry pure overhead, and parquet
        skips blooms on fully dictionary-encoded chunks anyway)."""
        self.root = root
        self.key_col = key_col
        self.bloom_ndv = bloom_ndv
        self.snap_dir = os.path.join(root, "_snapshots")
        os.makedirs(self.snap_dir, exist_ok=True)

    # ------------------------------------------------------------ state --
    # Manifest-chain semantics (canonical-name filter, replaces/expired
    # resolution, delta-range safety) live in pipeline.manifests so the
    # streaming CDC source resolves them identically — see that module.
    def snapshots(self) -> list[dict]:
        return _manifests.list_snapshots(self.root)

    def last_snapshot(self) -> dict | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def live_snapshots(self, version: int | None = None) -> list[dict]:
        """Snapshot chain as of ``version``: compaction snapshots
        replace the snapshots they absorbed (manifest ``replaces``,
        Iceberg rewrite_data_files semantics); expired snapshots inside
        the requested range raise — their data files are gone."""
        return _manifests.resolve_live(self.snapshots(), version)

    # --------------------------------------------------- schema evolution --
    # Iceberg-style column evolution without field IDs: a table-level
    # operation log (_schema/evolution.json) records add/rename/drop/
    # widen ops; every commit stamps the log length as its
    # schema_version, and reads transform each snapshot's frame from
    # its version to the TARGET schema before the union — the current
    # log head for current reads, the as-of snapshot's own recorded
    # schema_version for time travel (Iceberg serves each snapshot in
    # its own schema; so does this). Difference vs Iceberg, documented:
    # rename is name-mapping-based rather than field-ID-based, so it
    # cannot distinguish a rename from a drop+add done in ONE step —
    # do them as separate ops (the op log applies them in declaration
    # order, which also makes rename-to-a-previously-dropped-name
    # well-defined: the drop projects the old physical column away
    # before the rename maps the new one in — covered by test).

    @property
    def _evolution_path(self) -> str:
        return os.path.join(self.root, "_schema", "evolution.json")

    def _evolution(self) -> list[dict]:
        try:
            with open(self._evolution_path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return []

    def _record_evolution(self, op: dict) -> int:
        ops = self._evolution()
        op = {**op, "version": len(ops) + 1, "at": time.time()}
        ops.append(op)
        os.makedirs(os.path.dirname(self._evolution_path), exist_ok=True)
        tmp = self._evolution_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(ops, fh)
        os.replace(tmp, self._evolution_path)
        return op["version"]

    _INTERNAL_COLS = ("_snapshot_id", "_deleted")

    def _current_columns(self) -> dict[str, DataType] | None:
        """Current logical schema {column: Spark type}: the schema the
        last live snapshot's manifest recorded, transformed through the
        ops declared after it. None before the first commit (validation
        is then skipped)."""
        live = self.live_snapshots()
        if not live:
            return None
        last = live[-1]
        cols = {f.name: f.dataType for f in _manifests.read_schema([last])}
        for op in self._evolution():
            if op["version"] <= last["schema_version"]:
                continue
            if op["op"] == "rename" and op["old"] in cols:
                cols[op["new"]] = cols.pop(op["old"])
            elif op["op"] == "drop":
                cols.pop(op["name"], None)
            elif op["op"] == "widen" and op["name"] in cols:
                cols[op["name"]] = DataType.fromDDL(op["type"])
            elif op["op"] == "add" and op["name"] not in cols:
                cols[op["name"]] = DataType.fromDDL(op["type"])
        return cols

    def add_column(self, name: str, dtype: str, default=None) -> int:
        """Declare a new column: snapshots written before it read as
        ``default`` (cast to ``dtype``; None = NULL, Iceberg's
        read-missing-as-null plus v3 initial-default semantics)."""
        if name in self._INTERNAL_COLS or name == self.key_col:
            raise ValueError(f"cannot add reserved column {name!r}")
        cols = self._current_columns()
        if cols is not None and name in cols:
            raise ValueError(f"column {name!r} already exists")
        return self._record_evolution(
            {"op": "add", "name": name, "type": dtype, "default": default})

    def rename_column(self, old: str, new: str) -> int:
        """Rename a column; historical files keep the old parquet name
        and are mapped on read (Iceberg RENAME COLUMN semantics)."""
        if old == self.key_col or old in self._INTERNAL_COLS:
            raise ValueError(f"cannot rename {old!r}")
        if new == self.key_col or new in self._INTERNAL_COLS:
            raise ValueError(f"cannot rename to reserved {new!r}")
        cols = self._current_columns()
        if cols is not None:
            # Iceberg rejects these at ALTER time; accepting them here
            # would poison the append-only op log and break every read
            # (two columns named `new` -> AMBIGUOUS_REFERENCE)
            if old not in cols:
                raise ValueError(f"no column {old!r} to rename")
            if new in cols:
                raise ValueError(f"column {new!r} already exists")
        return self._record_evolution(
            {"op": "rename", "old": old, "new": new})

    def drop_column(self, name: str) -> int:
        """Drop a column from the readable schema; historical files
        keep the bytes but every read projects it away."""
        if name == self.key_col or name in self._INTERNAL_COLS:
            raise ValueError(f"cannot drop {name!r}")
        cols = self._current_columns()
        if cols is not None and name not in cols:
            raise ValueError(f"no column {name!r} to drop")
        return self._record_evolution({"op": "drop", "name": name})

    def widen_column(self, name: str, dtype: str) -> int:
        """Promote a column's type (int->long, float->double — the
        Iceberg-legal widenings; the cast is applied to older
        snapshots on read so the union is type-consistent)."""
        if name == self.key_col or name in self._INTERNAL_COLS:
            raise ValueError(f"cannot widen {name!r}")
        # only Iceberg-legal promotions: a narrowing "widen" would
        # silently corrupt historical values under Spark cast. Parsed
        # types are compared, so 'long' and 'bigint' are one type
        _WIDENINGS = {"bigint": {"tinyint", "smallint", "int"},
                      "int": {"tinyint", "smallint"},
                      "double": {"float"}}
        target = DataType.fromDDL(dtype).simpleString()
        if target not in _WIDENINGS:
            raise ValueError(f"{dtype!r} is not a widening target "
                             f"(int->long, float->double)")
        cols = self._current_columns()
        if cols is not None:
            if name not in cols:
                raise ValueError(f"no column {name!r} to widen")
            src = cols[name].simpleString()
            if src not in _WIDENINGS[target] and src != target:
                raise ValueError(
                    f"cannot widen {name!r} from {src} to {target}")
        return self._record_evolution(
            {"op": "widen", "name": name, "type": dtype})

    def _apply_evolution(self, df: DataFrame, from_version: int,
                         ops: list[dict],
                         to_version: int | None = None) -> DataFrame:
        """Transform a snapshot's frame from the schema it was written
        under to the target schema: ops in (``from_version``,
        ``to_version``] — ``None`` = the current log head. ``ops`` is
        passed in so a multi-snapshot read loads the log ONCE."""
        from pyspark.sql import functions as F
        for op in ops:
            if op["version"] <= from_version:
                continue
            if to_version is not None and op["version"] > to_version:
                break  # ops are in declaration order
            kind = op["op"]
            if kind == "rename" and op["old"] in df.columns:
                df = df.withColumnRenamed(op["old"], op["new"])
            elif kind == "drop" and op["name"] in df.columns:
                df = df.drop(op["name"])
            elif kind == "widen" and op["name"] in df.columns:
                df = df.withColumn(
                    op["name"], F.col(op["name"]).cast(op["type"]))
            elif kind == "add" and op["name"] not in df.columns:
                df = df.withColumn(
                    op["name"], F.lit(op["default"]).cast(op["type"]))
        return df

    # ----------------------------------------------------------- commit --
    def commit(self, df: DataFrame, partitions: int | None = None,
               replaces: list[int] | None = None,
               preserve_snapshot_ids: bool = False) -> int:
        """Append ``df`` as a new snapshot. Data lands fully before the
        manifest appears (os.replace is atomic), so readers never see a
        partial commit and a crashed run leaves no visible snapshot.
        A ``_snapshot_id`` column is stamped so ``read_current`` can
        resolve replace-on-key precedence across snapshots."""
        from pyspark.sql import functions as F
        last = self.last_snapshot()
        snap_id = (last["id"] + 1) if last else 1
        rel = f"data/snap-{snap_id:06d}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self.root, rel)
        out = df.repartition(partitions) if partitions else df
        if preserve_snapshot_ids and "_snapshot_id" in out.columns:
            # versioned compaction: retained rows keep their ORIGINAL
            # stamp so per-key version order (and read_current's
            # max_by resolution) survives the rewrite
            pass
        else:
            if "_snapshot_id" in out.columns:
                out = out.drop("_snapshot_id")
            out = out.withColumn("_snapshot_id",
                                 F.lit(snap_id).cast("long"))
        if "_deleted" not in out.columns:
            out = out.withColumn("_deleted", F.lit(False))
        writer = out.write.mode("overwrite")
        if self.bloom_ndv:
            # parquet bloom filter on the key column: point lookups
            # whose key falls inside a file's min/max range (so
            # manifest-stats pruning can't drop it) still skip its row
            # groups at the scan — the reader consults the bloom before
            # decoding anything. Native parquet metadata, honored by
            # any engine. Size is expected-NDV-proportional (measured
            # ~1.2 bytes/key), so it must be declared: the default
            # 100k/file is ~120 KB against the ~128 MB files a real
            # table targets; pass bloom_ndv=None to drop the feature.
            writer = (writer
                      .option(f"parquet.bloom.filter.enabled#"
                              f"{self.key_col}", "true")
                      .option(f"parquet.bloom.filter.expected.ndv#"
                              f"{self.key_col}", str(self.bloom_ndv)))
        writer.parquet(path)
        manifest = {"id": snap_id, "parent": last["id"] if last else None,
                    "path": rel, "committed_at": time.time(),
                    "schema_version": len(self._evolution()),
                    "schema": out.schema.jsonValue(),
                    "files": self._file_stats(path)}
        if replaces:
            manifest["replaces"] = sorted(replaces)
            manifest["compaction"] = True
            # read_changes needs to know whether the rewrite kept the
            # original row stamps and tombstones (safe to read a delta
            # across — compact's preserve modes retain both) or
            # re-stamped everything (history collapsed — refuse).
            # Manifests from before this flag existed are conservatively
            # refused (missing key reads as unsafe).
            manifest["preserved_ids"] = bool(preserve_snapshot_ids)
        tmp = os.path.join(self.snap_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        final = os.path.join(self.snap_dir, f"{snap_id:06d}.json")
        # EXCLUSIVE publish (os.link fails if the target exists):
        # two racing writers picked the same snapshot id — the loser
        # must raise, not silently clobber the winner's manifest and
        # orphan its data (Iceberg's optimistic-concurrency contract).
        # The loser's data dir becomes remove_orphans() debris.
        try:
            os.link(tmp, final)
        except FileExistsError:
            os.unlink(tmp)
            raise SnapshotConflictError(
                f"snapshot {snap_id} already committed by a concurrent "
                f"writer; re-read the table and retry") from None
        os.unlink(tmp)
        return snap_id

    def _file_stats(self, path: str) -> list[dict]:
        """Per-data-file manifest stats (Iceberg manifest-entry
        equivalent): rows, bytes, and min/max of the key column read
        from the parquet footers (pyarrow, driver-side, no Spark job) —
        lets point lookups and key-range scans prune files without
        opening them. This is the only directory walk of a snapshot:
        every reader takes the snapshot's file list from these entries."""
        import pyarrow.parquet as pq
        out: list[dict] = []
        for dirpath, _dirs, files in os.walk(path):
            for f in sorted(files):
                if not f.endswith(".parquet"):
                    continue
                fp = os.path.join(dirpath, f)
                entry: dict = {"path": os.path.relpath(fp, self.root),
                               "bytes": os.path.getsize(fp)}
                try:
                    meta = pq.ParquetFile(fp).metadata
                    entry["rows"] = meta.num_rows
                    idx = {meta.schema.column(i).name: i
                           for i in range(meta.num_columns)}
                    ki = idx.get(self.key_col)
                    lo = hi = None
                    if ki is not None:
                        for rg in range(meta.num_row_groups):
                            st = meta.row_group(rg).column(ki).statistics
                            if st is None or not st.has_min_max:
                                lo = hi = None
                                break
                            mn, mx = st.min, st.max
                            if isinstance(mn, bytes):
                                mn = mn.decode("utf-8", "replace")
                                mx = mx.decode("utf-8", "replace")
                            lo = mn if lo is None else min(lo, mn)
                            hi = mx if hi is None else max(hi, mx)
                    if lo is not None:
                        entry["key_min"], entry["key_max"] = lo, hi
                except Exception:  # noqa: BLE001 — footer quirks: skip stats
                    pass
                out.append(entry)
        return out

    # ------------------------------------------------------------- read --
    def read(self, spark: SparkSession, version: int | None = None
             ) -> DataFrame | None:
        """Union of snapshots up to ``version``. Time travel serves the
        as-of snapshot's OWN schema (Iceberg semantics: each snapshot
        manifest records the schema_version it was committed under, and
        evolution ops declared after it are not applied); current reads
        serve the full op log. Compacted snapshots are read via their
        compaction; expired ones raise."""
        snaps = self.live_snapshots(version)
        target = None
        if version is not None and snaps:
            target = max(s.get("schema_version", 0) for s in snaps)
        return self._scan(
            spark, [(s, [os.path.join(self.root, s["path"])]) for s in snaps],
            to_version=target)

    def _scan(self, spark: SparkSession,
              groups: list[tuple[dict, list[str]]],
              to_version: int | None = None) -> DataFrame | None:
        """The one parquet scan of the table, over ``[(snapshot,
        paths)]`` — whole snapshot directories or manifest-pruned data
        files — under the schemas the manifests recorded. Without
        declared evolution ops it is one multi-path scan under the
        groups' merged schema (columns missing from older snapshots
        read as NULL, Iceberg semantics); with them each group is read
        under its own schema and transformed from ITS schema version
        to ``to_version`` (None = current) before the union. None for
        no groups."""
        if not groups:
            return None
        ops = self._evolution()  # loaded ONCE per read

        def scan(gs):
            schema = _manifests.read_schema([s for s, _ps in gs])
            return spark.read.schema(schema).parquet(
                *[p for _s, ps in gs for p in ps])
        if not ops:
            return scan(groups)
        df = None
        for s, paths in groups:
            part = self._apply_evolution(scan([(s, paths)]),
                                         s["schema_version"], ops,
                                         to_version)
            df = part if df is None else df.unionByName(
                part, allowMissingColumns=True)
        return df

    def _key_scoped_read(self, spark: SparkSession, key: str
                         ) -> DataFrame | None:
        """Minimal-scan frame for one key: the data files whose manifest
        stats can hold it, or a full read when a live file lacks stats.
        Returns None for an empty prune."""
        groups = self._prune_by_snapshot(key_eq=key)
        if groups is None:
            return self.read(spark)
        return self._scan(spark, groups)

    def _latest_per_key(self, df: DataFrame) -> DataFrame:
        """One row per key — the highest ``_snapshot_id`` wins — with
        delete tombstones filtered out."""
        from pyspark.sql import functions as F
        rest = [c for c in df.columns if c != self.key_col]
        cur = (df.groupBy(self.key_col)
               .agg(F.max_by(F.struct(*rest), F.col("_snapshot_id"))
                    .alias("_row"))
               .select(self.key_col, "_row.*"))
        return cur.filter(~F.col("_deleted")).drop("_deleted")

    def point_lookup(self, spark: SparkSession, key: str) -> DataFrame:
        """B1 point lookup: manifest-stats file pruning (tight after a
        sorted compaction, refined by the key bloom filter at the scan)
        or a filtered full read."""
        from pyspark.sql import functions as F
        df = self._key_scoped_read(spark, key)
        if df is None:
            return spark.createDataFrame([], f"{self.key_col} string")
        return self._latest_per_key(df.filter(F.col(self.key_col) == key))

    def read_current(self, spark: SparkSession,
                     version: int | None = None) -> DataFrame | None:
        """Current table state: one row per key (highest snapshot wins
        — replace-on-key semantics of
        /root/reference/app/services/resume_service.py:106-182), delete
        tombstones filtered out."""
        df = self.read(spark, version)
        return None if df is None else self._latest_per_key(df)

    def _with_tombstones(self, live: DataFrame, full: DataFrame
                         ) -> DataFrame:
        """Carry delete tombstones through a stamp-preserving rewrite.
        Dropping them would silently erase delete events from
        ``read_changes`` — a CDC consumer checkpointed before the
        compaction would never see the delete and diverge. Tombstones
        are one row per deleted key; retaining them is noise-level
        storage."""
        from pyspark.sql import functions as F
        live = live.withColumn("_deleted", F.lit(False))
        tombs = full.filter(F.col("_deleted")).select(*live.columns)
        return live.unionByName(tombs)

    def _live_rows(self, df: DataFrame) -> DataFrame:
        """Non-tombstoned rows still live under delete semantics: a
        delete only erases rows OLDER than the tombstone — rows
        re-appended for the same key afterwards survive."""
        from pyspark.sql import functions as F
        dead = (df.filter(F.col("_deleted"))
                .groupBy(self.key_col)
                .agg(F.max("_snapshot_id").alias("_del_snap")))
        return (df.filter(~F.col("_deleted"))
                .join(dead, self.key_col, "left")
                .filter(F.col("_del_snap").isNull() |
                        (F.col("_snapshot_id") > F.col("_del_snap")))
                .drop("_del_snap", "_deleted"))

    def read_live(self, spark: SparkSession) -> DataFrame | None:
        """All live rows under delete semantics — the read for APPEND
        tables (many rows per key, e.g. the band index), where
        ``read_current``'s latest-per-key collapse would be wrong."""
        df = self.read(spark)
        return None if df is None else self._live_rows(df)

    def read_versions(self, spark: SparkSession, key: str | None = None
                      ) -> DataFrame | None:
        """Per-key version history (B12 parity with the reference's
        versioned resume reads,
        /root/reference/app/repositories/resume_repository.py:32-70 and
        the (user_id, version) compound index app/core/indexes.py:26-33):
        every live row of a key with a 1-based ``_version`` in
        snapshot order. Superseded rows stay readable until a
        compaction's retention (``compact(keep_versions=N)``) or a
        tombstone drops them."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window
        if key is not None:
            df = self._key_scoped_read(spark, key)
            if df is not None:
                df = df.filter(F.col(self.key_col) == key)
        else:
            df = self.read(spark)
        if df is None:
            return None
        live = self._live_rows(df)
        w = Window.partitionBy(self.key_col).orderBy(F.asc("_snapshot_id"))
        return live.withColumn("_version",
                               F.row_number().over(w).cast("long"))

    def version_lookup(self, spark: SparkSession, key: str,
                       version: int) -> DataFrame:
        """Single (key, version) read — 'version 2 of url X' even after
        later commits rewrote the key."""
        from pyspark.sql import functions as F
        hist = self.read_versions(spark, key=key)
        if hist is None:
            return spark.createDataFrame([], f"{self.key_col} string")
        return hist.filter(F.col("_version") == version)

    def read_changes(self, spark: SparkSession, from_version: int,
                     to_version: int | None = None,
                     classify_updates: bool = False) -> DataFrame | None:
        """Incremental changelog read (Iceberg incremental scan / CDC
        semantics): every row committed AFTER snapshot ``from_version``
        and at-or-before ``to_version`` (default: latest), stamped with
        ``_change_type`` ('insert' | 'delete' | 'update_after') and
        ``_commit_version``. This is the nightly-batch primitive at
        10^12-row scale: downstream consumers (embedding index refresh,
        incremental near-dup banding, corpus re-export) process only the
        delta instead of rescanning the table.

        Scan shape: only snapshots with id > ``from_version`` are read
        (manifest-level pruning — the pre-checkpoint bulk is never
        touched). Compactions that preserved original ``_snapshot_id``
        stamps (``mode='append'``, ``keep_versions>1``) are safe to
        read a delta across — the residual pre-range rows they carry
        are dropped by the stamp filter; a default (re-stamping)
        compaction collapses history, so a range crossing one raises
        instead of reporting the whole table as freshly inserted —
        Iceberg's incremental-read-across-an-overwrite error. Caveat
        (same as Iceberg expire/rewrite): a stamp-preserving compaction
        may still have dropped superseded intermediate versions — the
        changelog serves surviving rows.

        ``classify_updates=True`` relabels inserts whose key was live at
        ``from_version`` as 'update_after' (replace-on-key tables). It
        costs one pass over the surviving rows' (key, stamp, tombstone)
        columns — pruned at the scan, semi-joined against a broadcast of
        the (small) changed-key set before aggregating — opt-in. It
        resolves liveness from surviving stamps, so it works after the
        pre-compaction snapshots are expired; best-effort caveat: a
        ``keep_versions`` compaction that dropped every pre-checkpoint
        version of a key makes its rewrite classify as 'insert'.
        """
        from pyspark.sql import functions as F
        if from_version < 0:
            raise ValueError("from_version must be >= 0")
        if to_version is not None and to_version < from_version:
            raise ValueError(
                f"to_version {to_version} < from_version {from_version}")
        snaps = [s for s in self.live_snapshots(to_version)
                 if s["id"] > from_version]
        _manifests.check_delta_range(snaps, from_version)
        df = self._scan(
            spark, [(s, [os.path.join(self.root, s["path"])]) for s in snaps])
        if df is None:
            return None
        changes = (df.filter(F.col("_snapshot_id") > F.lit(from_version))
                   .withColumn("_change_type",
                               F.when(F.col("_deleted"), F.lit("delete"))
                               .otherwise(F.lit("insert")))
                   .withColumnRenamed("_snapshot_id", "_commit_version")
                   .drop("_deleted"))
        if classify_updates:
            base = self.read(spark)  # live chain: never needs expired data
            changed_keys = changes.select(self.key_col).distinct()
            # keys-only liveness at from_version from surviving stamps:
            # 3 columns through the shuffle, and only for changed keys
            # (semi-join against the broadcast BEFORE aggregating)
            hit = (base.select(self.key_col, "_snapshot_id", "_deleted")
                   .filter(F.col("_snapshot_id") <= from_version)
                   .join(F.broadcast(changed_keys), self.key_col,
                         "left_semi")
                   .groupBy(self.key_col)
                   .agg(F.max_by("_deleted", "_snapshot_id").alias("_dead"))
                   .filter(~F.col("_dead"))
                   .select(self.key_col)
                   .withColumn("_was_live", F.lit(True)))
            changes = (changes
                       .join(F.broadcast(hit), self.key_col, "left")
                       .withColumn(
                           "_change_type",
                           F.when((F.col("_change_type") == "insert") &
                                  F.col("_was_live").isNotNull(),
                                  F.lit("update_after"))
                           .otherwise(F.col("_change_type")))
                       .drop("_was_live"))
        return changes

    def merge_upsert(self, spark: SparkSession, new_df: DataFrame,
                     compare_exclude: tuple = ("vector", "_snapshot_id",
                                               "_deleted", "extract_ms")
                     ) -> dict:
        """Diff-update MERGE (SURVEY.md B5/B6): insert new keys, rewrite
        keys whose compared fields changed, and elide no-op updates —
        the field-diff semantics of
        /root/reference/app/services/resume_service.py:184-261, which
        also excludes ``vector`` from the comparison (:220-223)."""
        from pyspark.sql import functions as F
        cur = self.read_current(spark)
        if cur is None:
            # an empty merge commits nothing, as on a non-empty table
            n = new_df.count()
            snap = self.commit(new_df) if n else None
            return {"inserted": n, "updated": 0, "unchanged": 0,
                    "snapshot_id": snap}
        cmp_cols = [c for c in new_df.columns
                    if c not in compare_exclude and c != self.key_col]
        old = cur.select(
            self.key_col,
            F.struct(*cmp_cols).alias("_old_cmp"))
        joined = new_df.alias("n").join(old, on=self.key_col, how="left")
        new_cmp = F.struct(*[F.col(f"n.{c}") for c in cmp_cols])
        is_new = F.col("_old_cmp").isNull()
        is_changed = ~is_new & ~new_cmp.eqNullSafe(F.col("_old_cmp"))
        # persist: the join feeds both the stats aggregate and the
        # commit write — without it the full shuffle-join of the new
        # batch runs twice at scale
        joined = joined.persist()
        try:
            changed = joined.filter(is_new | is_changed)
            to_write = changed.select(
                [F.col(f"n.{c}") for c in new_df.columns])
            stats_row = joined.select(
                F.sum(is_new.cast("int")).alias("ins"),
                F.sum(is_changed.cast("int")).alias("upd"),
                F.count("*").alias("total")).collect()[0]
            inserted = int(stats_row["ins"] or 0)
            updated = int(stats_row["upd"] or 0)
            snap = None
            if inserted + updated > 0:
                snap = self.commit(to_write)
        finally:
            joined.unpersist()
        return {"inserted": inserted, "updated": updated,
                "unchanged": int(stats_row["total"]) - inserted - updated,
                "snapshot_id": snap}

    def delete_keys(self, spark: SparkSession,
                    keys: "list | DataFrame") -> int | None:
        """Delete by key via tombstone rows (SURVEY.md B7).

        ``keys`` is a Python list for small, driver-known key sets, or
        a single-column DataFrame of keys for large ones (a GDPR sweep,
        a CDC bootstrap batch): the DataFrame form stays distributed
        end-to-end — a semi-join against the table inside the commit,
        with NO driver materialization of the key set."""
        from pyspark.sql import functions as F
        cur = self.read_current(spark)
        if cur is None:
            return None
        if isinstance(keys, DataFrame):
            if len(keys.columns) != 1:
                raise ValueError(
                    f"delete_keys: expected a single-column key frame, "
                    f"got columns {keys.columns}")
            # positional rename (toDF), not name-based resolution: key
            # frames named with reserved words, spaces, or DOTS ('a.b'
            # is parsed as struct-field access by F.col AND by
            # DataFrame[...] — advisor finding, r5) never go through
            # any name grammar
            key_df = keys.toDF(self.key_col).distinct()
            victims = cur.join(key_df, self.key_col, "left_semi") \
                .withColumn("_deleted", F.lit(True))
        else:
            victims = cur.filter(F.col(self.key_col).isin(keys)) \
                .withColumn("_deleted", F.lit(True))
        if victims.isEmpty():
            return None
        return self.commit(victims)

    # ------------------------------------------------------ maintenance --
    def _prune_by_snapshot(self, key_eq=None, key_min=None, key_max=None
                           ) -> list[tuple[dict, list[str]]] | None:
        """Manifest-stats file pruning, grouped by snapshot (so the
        caller can apply per-snapshot schema-evolution transforms):
        data files whose ``key_col`` [min,max] range can contain the
        predicate. Returns None when any live file lacks stats (caller
        falls back to a full scan); snapshots with zero surviving files
        are omitted."""
        groups: list[tuple[dict, list[str]]] = []
        for s in self.live_snapshots():
            entries = s.get("files")
            if not entries:
                return None
            files: list[str] = []
            for e in entries:
                if e.get("rows") == 0:
                    continue  # empty part file: prunes trivially
                if "key_min" not in e:
                    return None
                if key_eq is not None and not (
                        e["key_min"] <= key_eq <= e["key_max"]):
                    continue
                if key_min is not None and e["key_max"] < key_min:
                    continue
                if key_max is not None and e["key_min"] > key_max:
                    continue
                files.append(os.path.join(self.root, e["path"]))
            if files:
                groups.append((s, files))
        return groups

    def prune_files(self, key_eq=None, key_min=None, key_max=None
                    ) -> list[str] | None:
        """Flat view of ``_prune_by_snapshot`` (public API)."""
        groups = self._prune_by_snapshot(key_eq, key_min, key_max)
        if groups is None:
            return None
        return [f for _s, fs in groups for f in fs]

    def compact(self, spark: SparkSession,
                target_file_mb: float = 128, mode: str = "current",
                keep_versions: int = 1, sort: bool = False) -> dict:
        """Bin-pack compaction (Iceberg ``rewrite_data_files`` +
        dangling-delete removal): rewrite the table as ONE new snapshot
        sized to ``target_file_mb`` files, which replaces every prior
        snapshot. Time travel to pre-compaction versions keeps working
        until ``expire_snapshots`` reclaims them. At 100 TB this is the
        small-file defense: a streaming/incremental ingest lands
        thousands of delta files whose per-file overhead (footer reads,
        task scheduling) dominates scans until they're rewritten.

        ``mode="current"``: rewrite the resolved latest-per-key state
        (replace-on-key tables). ``mode="append"``: rewrite ALL live
        rows verbatim — for append-only tables holding several rows per
        key (the audit log, the near-dup band index), where
        latest-per-key resolution would silently drop rows; tombstoned
        keys still disappear entirely.

        ``sort=True``: range-repartition + sort by the key column
        (Iceberg ``rewrite_data_files`` with a sort strategy) — each
        output file then holds a tight, disjoint key range, so the
        manifest min/max stats prune a point lookup to ONE file. An
        unsorted compaction hash-mixes keys, leaving every file's
        [min,max] spanning the whole key space and the stats useless —
        at 100 TB the sorted rewrite is what keeps key-scoped reads
        from becoming full scans."""
        from pyspark.sql import functions as F
        snaps = self.live_snapshots()
        if not snaps:
            return {"compacted": 0, "snapshot_id": None}
        if mode == "append" and keep_versions != 1:
            # append tables keep every live row by definition — a
            # silent ignore here would read as applied retention
            raise ValueError("keep_versions applies to mode='current'")
        preserve_ids = False
        if mode == "append":
            # a delete only erases rows OLDER than the tombstone —
            # rows re-appended for the same key after the delete are
            # live and must survive the rewrite (snapshot-id order,
            # not mere tombstone existence). Original stamps are
            # PRESERVED: append tables hold many rows per key whose
            # relative snapshot order is meaningful (audit replay,
            # read_versions) and a re-stamp would collapse it.
            full = self.read(spark)
            cur = self._with_tombstones(self._live_rows(full), full)
            preserve_ids = True
        elif keep_versions > 1:
            # versioned retention (B12): keep the newest N versions per
            # key, preserving their ORIGINAL _snapshot_id stamps so
            # version order and read_current resolution survive
            from pyspark.sql.window import Window
            full = self.read(spark)
            live = self._live_rows(full)
            w = Window.partitionBy(self.key_col) \
                .orderBy(F.desc("_snapshot_id"))
            cur = (live.withColumn("_rk", F.row_number().over(w))
                   .filter(F.col("_rk") <= keep_versions).drop("_rk"))
            cur = self._with_tombstones(cur, full)
            preserve_ids = True
        else:
            cur = self.read_current(spark)
        total_bytes = sum(e.get("bytes", 0) for s in snaps
                          for e in (s.get("files") or []))
        target_bytes = max(1, int(target_file_mb * (1 << 20)))
        n_files = max(1, -(-total_bytes // target_bytes))
        if sort:
            # pre-shape instead of commit's hash repartition: range
            # partitioning gives disjoint per-file key ranges, the
            # within-partition sort gives tight min/max footers
            cur = (cur.repartitionByRange(n_files, self.key_col)
                   .sortWithinPartitions(self.key_col))
        snap = self.commit(cur, partitions=None if sort else n_files,
                          replaces=[s["id"] for s in snaps],
                          preserve_snapshot_ids=preserve_ids)
        return {"compacted": len(snaps), "snapshot_id": snap,
                "data_files": n_files}

    def expire_snapshots(self) -> list[int]:
        """Reclaim the data of snapshots replaced by a compaction
        (Iceberg ``expire_snapshots``): current reads never touch them,
        only pre-compaction time travel does. Expired manifests stay
        (audit trail, marked ``expired``) but their data dirs are
        deleted — time travel past the horizon then raises in
        ``live_snapshots``."""
        import shutil
        all_snaps = self.snapshots()
        replaced: set[int] = set()
        for s in all_snaps:
            replaced.update(s.get("replaces") or [])
        victims = [s for s in all_snaps
                   if s["id"] in replaced and not s.get("expired")]
        expired: list[int] = []
        for s in victims:
            data_dir = os.path.join(self.root, s["path"])
            shutil.rmtree(data_dir, ignore_errors=True)
            s["expired"] = True
            tmp = os.path.join(self.snap_dir, f".tmp-{uuid.uuid4().hex}.json")
            with open(tmp, "w") as fh:
                json.dump(s, fh)
            os.replace(tmp, os.path.join(self.snap_dir,
                                         f"{s['id']:06d}.json"))
            expired.append(s["id"])
        return expired

    def remove_orphans(self, older_than_s: float = 3600.0) -> list[str]:
        """Delete data directories referenced by NO snapshot manifest —
        the debris of crashed commits (``commit`` writes data fully
        before the manifest appears, so a crash between the two leaves a
        complete but invisible dir that would sit there forever).
        Iceberg ``remove_orphan_files`` semantics, incl. the age guard:
        only dirs older than ``older_than_s`` are removed, so a commit
        in flight right now (data written, manifest microseconds away)
        is never swept — hence a NON-ZERO default (1 h; Iceberg's is
        3 days): passing 0 would let a maintenance sweep delete a
        concurrent writer's about-to-publish data dir. Returns the
        removed relative paths."""
        import shutil
        import time as _time
        referenced = {s["path"] for s in self.snapshots()}
        data_root = os.path.join(self.root, "data")
        removed: list[str] = []
        if not os.path.isdir(data_root):
            return removed
        now = _time.time()
        for d in sorted(os.listdir(data_root)):
            rel = f"data/{d}"
            full = os.path.join(data_root, d)
            if rel in referenced or not os.path.isdir(full):
                continue
            if now - os.path.getmtime(full) < older_than_s:
                continue
            shutil.rmtree(full, ignore_errors=True)
            removed.append(rel)
        return removed

    def committed_keys(self, spark: SparkSession) -> DataFrame | None:
        df = self.read(spark)
        return df.select(self.key_col).distinct() if df is not None else None

    def resume_filter(self, spark: SparkSession, incoming: DataFrame
                      ) -> DataFrame:
        """Idempotent resume: drop rows whose key is already committed
        (left-anti join on the committed key set — SURVEY.md §4.4)."""
        keys = self.committed_keys(spark)
        if keys is None:
            return incoming
        return incoming.join(keys, on=self.key_col, how="left_anti")
