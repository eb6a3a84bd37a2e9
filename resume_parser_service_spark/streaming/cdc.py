"""Structured-Streaming changelog source for ``SnapshotTable`` (CDC).

``spark.readStream.format("snapshot_cdc")`` turns the snapshot-manifest
chain into a micro-batch stream: each batch serves the snapshots
committed since the last checkpointed offset, stamped exactly like the
batch ``SnapshotTable.read_changes`` — ``_change_type``
('insert' | 'delete') and ``_commit_version``. Offsets are snapshot
ids, so restart/replay is exactly-once by construction (a re-served
range (start, end] re-reads the same immutable snapshot files).

This is the streaming twin of the reference's change-notification flow
(/root/reference/app/services/resume_service.py:106-182 rewrites one
user's rows per request; here downstream consumers — embedding index
refresh, incremental near-dup banding — tail the table's delta
continuously). Implemented with the PySpark 4 Python DataSource API:
the per-batch planning (manifest listing, compaction guard) runs on the
driver in ``partitions()``; the data files themselves are read on
EXECUTORS, one ``InputPartition`` per data file the snapshot manifest
lists, via Arrow record batches — the scan parallelism is the file
count, never a driver-side bottleneck. The table root must be on
storage every executor can reach (same shared-filesystem assumption as
``SnapshotTable`` itself).

Scope guards (documented, fail-loud): ranges that cross a re-stamping
compaction raise (history collapsed — same rule as ``read_changes``);
tables with declared schema-evolution ops raise (the batch reader
transforms old snapshots per-version; the streaming source serves the
schema the last snapshot's manifest recorded, additive-null only).
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)
from pyspark.sql.types import StructType

# Manifest resolution is SHARED with the batch reader (SnapshotTable)
# via pipeline.manifests — module-level pure functions, so the
# DataSource stays picklable and the stream can never diverge from the
# batch reader on what the manifest chain means.
from ..pipeline.manifests import (check_delta_range, live_snapshots,
                                  read_schema)

__all__ = ["SnapshotCDCDataSource", "stream_changes",
           "stream_neardup_index", "maintain_index_until_current"]

_INTERNAL = ("_deleted", "_snapshot_id")


class _CDCPartition(InputPartition):
    def __init__(self, file_path: str, from_version: int,
                 columns: list[str]):
        self.file_path = file_path
        self.from_version = from_version
        self.columns = columns


class _CDCStreamReader(DataSourceStreamReader):
    def __init__(self, root: str, starting_version: int,
                 columns: list[str] | None = None):
        self.root = root
        self.starting_version = starting_version
        # The stream's schema is FIXED at planning time — serve the
        # column list Catalyst PLANNED with (passed down from
        # streamReader), never one re-derived from disk: an implicit
        # additive column committed between planning and reader
        # construction must NOT widen batches past the planned schema
        # (the executor's Arrow batch would no longer match and fail
        # with an opaque conversion error instead of serving nulls).
        self.columns = (columns if columns is not None
                        else _schema(root).fieldNames())

    # ------------------------------------------------------- offsets --
    def initialOffset(self) -> dict:
        return {"version": self.starting_version}

    def latestOffset(self) -> dict:
        live = live_snapshots(self.root)
        last = live[-1]["id"] if live else self.starting_version
        return {"version": max(last, self.starting_version)}

    def commit(self, end: dict) -> None:
        pass  # snapshots are immutable; nothing to clean up

    # ----------------------------------------------------- planning --
    def partitions(self, start: dict, end: dict
                   ) -> Sequence[InputPartition]:
        from_v, to_v = start["version"], end["version"]
        # fail-loud EVERY batch, not just at open: a rename/drop/widen
        # op declared mid-stream would otherwise silently serve NULLs
        # for the renamed column via read()'s file-predates-column
        # branch (that branch exists for implicit additive columns only)
        _refuse_evolved(self.root)
        snaps = [s for s in live_snapshots(self.root, to_v)
                 if s["id"] > from_v]
        check_delta_range(snaps, from_v, label="stream changes")
        return [_CDCPartition(os.path.join(self.root, e["path"]), from_v,
                              self.columns)
                for s in snaps for e in s["files"]]

    # ------------------------------------------------------- reading --
    def read(self, partition: _CDCPartition) -> Iterator:
        """Executor-side: one parquet file -> Arrow batches with the
        CDC columns appended. Columns the file predates (additive
        evolution) are served as nulls; the stamp filter drops residual
        pre-range rows a stamp-preserving compaction carried over."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        tbl = pq.read_table(partition.file_path)
        tbl = tbl.filter(pc.greater(tbl["_snapshot_id"],
                                    partition.from_version))
        n = tbl.num_rows
        change = pc.if_else(tbl["_deleted"],
                            pa.scalar("delete"), pa.scalar("insert"))
        def _us_type(t):
            # Spark's Arrow bridge takes MICROsecond timestamps only;
            # pyarrow reads Spark-written parquet timestamps as ns —
            # including NESTED inside structs/lists, so rebuild the
            # type recursively
            if pa.types.is_timestamp(t) and t.unit != "us":
                return pa.timestamp("us", tz=t.tz)
            if pa.types.is_struct(t):
                return pa.struct([f.with_type(_us_type(f.type))
                                  for f in t])
            if pa.types.is_large_list(t):
                return pa.large_list(_us_type(t.value_type))
            if pa.types.is_list(t):
                return pa.list_(_us_type(t.value_type))
            return t

        def _norm(col):
            target = _us_type(col.type)
            return col if target == col.type else pc.cast(col, target)

        arrays, names = [], []
        for c in partition.columns:
            if c == "_change_type":
                arrays.append(change)
            elif c == "_commit_version":
                arrays.append(pc.cast(tbl["_snapshot_id"], pa.int64()))
            elif c in tbl.column_names:
                arrays.append(_norm(tbl[c].combine_chunks()
                                    if tbl[c].num_chunks != 1
                                    else tbl[c]))
            else:
                arrays.append(pa.nulls(n))
            names.append(c)
        out = pa.table(arrays, names=names)
        for batch in out.to_batches():
            yield batch


def _refuse_evolved(root: str) -> None:
    """Declared schema-evolution ops are out of streaming scope."""
    if os.path.exists(os.path.join(root, "_schema", "evolution.json")):
        raise ValueError(
            "snapshot_cdc: table has declared schema-evolution ops; "
            "the streaming changelog serves the written schema only — "
            "use the batch read_changes for evolved tables")


def _schema(root: str) -> StructType:
    """The stream's schema: the one the last live snapshot's manifest
    recorded, minus internal columns, plus the two CDC columns."""
    _refuse_evolved(root)
    live = live_snapshots(root)
    if not live:
        raise ValueError(f"snapshot_cdc: no snapshots under {root}")
    return (StructType([f for f in read_schema(live[-1:])
                        if f.name not in _INTERNAL])
            .add("_commit_version", "long").add("_change_type", "string"))


class SnapshotCDCDataSource(DataSource):
    """``format("snapshot_cdc")``: streaming changelog over a
    SnapshotTable root. Options: ``path`` (table root, required),
    ``startingVersion`` (serve changes AFTER this snapshot; default 0 =
    full history)."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_cdc"

    def schema(self) -> StructType:
        root = self.options.get("path")
        if not root:
            raise ValueError("snapshot_cdc requires option 'path'")
        return _schema(root)

    def streamReader(self, schema) -> _CDCStreamReader:
        # `schema` is the StructType Catalyst planned the query with —
        # hand its field names to the reader so served batches always
        # match the planned schema exactly (see _CDCStreamReader.__init__)
        return _CDCStreamReader(
            self.options["path"],
            int(self.options.get("startingVersion", 0)),
            columns=schema.fieldNames())


def stream_changes(spark, root: str, starting_version: int = 0):
    """Register the source (idempotent per session) and open the
    changelog stream: one row per committed change, columns = table
    columns + (_commit_version, _change_type)."""
    registered = getattr(spark, "_rpss_cdc_registered", False)
    if not registered:
        spark.dataSource.register(SnapshotCDCDataSource)
        try:
            spark._rpss_cdc_registered = True
        except AttributeError:
            pass
    return (spark.readStream.format("snapshot_cdc")
            .option("path", root)
            .option("startingVersion", starting_version)
            .load())


def stream_neardup_index(spark, table_root: str, index_root: str,
                         checkpoint_dir: str, available_now: bool = True):
    """Keep an append-only MinHash band index fresh by TAILING the
    extracted table's changelog — the decoupled twin of
    ``run_extraction_job(neardup_index=True)`` for consumers that do
    not own the extraction job. Per micro-batch (foreachBatch):

    - The url's FINAL event in the batch decides: an insert followed by
      a delete in the same micro-batch (e.g. a bootstrap serving the
      whole history at once) leaves nothing behind.
    - Upserted urls -> band signatures, diffed against the index:
      a url whose full signature already matches (deterministic bands —
      a foreachBatch replay or a no-op rewrite) is skipped; a url
      indexed under a DIFFERING signature (real text update) gets its
      stale bands tombstoned and the new ones appended; novel urls
      just append. The index is only ever touched via broadcast joins
      of the (small) batch side — it never shuffles.
    - Deleted urls -> tombstoned OUT of the index (GDPR-style scrub
      the run-integrated wiring cannot do: it only ever sees new
      batches). The scrub key set stays a DATAFRAME end-to-end
      (``delete_keys`` semi-joins it inside the commit) — a bootstrap
      batch serving the whole history, or a mass-delete GDPR sweep,
      never materializes its keys on the driver.

    Returns the StreamingQuery; candidates are derivable at any time by
    matching a batch against the maintained index."""
    from pyspark.sql import functions as F

    from ..operators.incremental import band_signatures
    from ..pipeline.writer import SnapshotTable

    idx_tbl = SnapshotTable(index_root)

    def _apply(batch_df, _batch_id):
        # foreachBatch hands the frame to a CLONED SparkSession — temp
        # views (band_signatures) registered on it are invisible to the
        # outer session, so every op in here uses the batch's session
        bspark = batch_df.sparkSession
        batch_df = batch_df.persist()
        try:
            last = (batch_df.groupBy("url")
                    .agg(F.max_by(F.struct("_change_type", "text"),
                                  "_commit_version").alias("_last")))
            dels = (last.filter(F.col("_last._change_type") == "delete")
                    .select("url"))
            ups = (last.filter(F.col("_last._change_type") != "delete")
                   .select(F.col("url").alias("doc_id"),
                           F.col("_last.text").alias("text")))
            new_bands = band_signatures(bspark, ups).persist()
            idx_b = replayed = None
            try:
                # read_live, not read_current: the index is an APPEND
                # table (one row per band per url) — latest-per-key
                # would collapse a url's bands to one
                idx = idx_tbl.read_live(bspark)
                if idx is not None:
                    # the index's rows for THIS batch's urls only
                    # (batch side broadcast, index streams map-side)
                    batch_urls = ups.select(F.col("doc_id").alias("url"))
                    idx_b = (idx.select("url", "band_id", "band_hash")
                             .join(F.broadcast(batch_urls), "url",
                                   "left_semi")
                             .select(F.col("url").alias("doc_id"),
                                     "band_id", "band_hash").persist())
                    # replay vs update: a replayed url's FULL signature
                    # is already indexed (bands are deterministic); an
                    # indexed url with any differing band is an update
                    nb_n = (new_bands.groupBy("doc_id")
                            .agg(F.count(F.lit(1)).alias("_n")))
                    match_n = (new_bands
                               .join(idx_b,
                                     ["doc_id", "band_id", "band_hash"])
                               .groupBy("doc_id")
                               .agg(F.count(F.lit(1)).alias("_m")))
                    replayed = (nb_n.join(match_n, "doc_id")
                                .filter(F.col("_m") == F.col("_n"))
                                .select("doc_id").persist())
                    changed = (idx_b.select("doc_id").distinct()
                               .join(replayed, "doc_id", "left_anti")
                               .select(F.col("doc_id").alias("url")))
                    scrub = dels.unionByName(changed)
                    to_append = new_bands.join(F.broadcast(replayed),
                                               "doc_id", "left_anti")
                else:
                    scrub = dels
                    to_append = new_bands
                # tombstones FIRST so changed urls' fresh bands land in
                # a later snapshot than the tombstone and stay live;
                # scrub stays a DataFrame — no driver-side key list
                if not scrub.isEmpty():
                    idx_tbl.delete_keys(bspark, scrub)
                out = to_append.withColumnRenamed("doc_id", "url")
                if out.limit(1).count():
                    idx_tbl.commit(out)
            finally:
                new_bands.unpersist()
                if idx_b is not None:
                    idx_b.unpersist()
                if replayed is not None:
                    replayed.unpersist()
        finally:
            batch_df.unpersist()

    writer = (stream_changes(spark, table_root)
              .writeStream.foreachBatch(_apply)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _committed_offset(checkpoint_dir: str) -> int | None:
    """Last snapshot version whose micro-batch is fully COMMITTED in
    the checkpoint (Spark layout: offsets/<batchId> is written before
    the batch runs, commits/<batchId> after; the offsets file's last
    line is the source offset JSON). None = nothing committed yet."""
    cdir = os.path.join(checkpoint_dir, "commits")
    odir = os.path.join(checkpoint_dir, "offsets")
    try:
        done = [int(f) for f in os.listdir(cdir) if f.isdigit()]
    except FileNotFoundError:
        return None
    if not done:
        return None
    with open(os.path.join(odir, str(max(done)))) as fh:
        last = fh.read().strip().splitlines()[-1]
    return int(json.loads(last)["version"])


def maintain_index_until_current(spark, table_root: str, index_root: str,
                                 checkpoint_dir: str,
                                 max_drains: int = 10) -> int:
    """Drain the changelog into the band index until the checkpoint has
    COMMITTED up to the table's latest snapshot, re-starting the
    availableNow query as needed. Needed because Python DataSource
    streams fall back from Trigger.AvailableNow to single-batch
    execution: one start() serves only the batch planned at start — a
    run that crashed between offset-write and commit leaves that batch
    pending, and the next start() re-runs ONLY it, silently excluding
    snapshots committed since. Returns the number of drains."""
    target = 0
    live = live_snapshots(table_root)
    if live:
        target = live[-1]["id"]
    for n in range(1, max_drains + 1):
        q = stream_neardup_index(spark, table_root, index_root,
                                 checkpoint_dir)
        q.awaitTermination()
        q.stop()
        done = _committed_offset(checkpoint_dir)
        if done is not None and done >= target:
            return n
    raise RuntimeError(
        f"maintain_index: checkpoint still behind snapshot {target} "
        f"after {max_drains} drains")
