"""Streaming changelog source (snapshot_cdc): batch parity,
checkpointed restart (exactly-once), startingVersion, and the
re-stamping-compaction guard."""

import uuid

import pytest

from resume_parser_service_spark.pipeline.writer import SnapshotTable
from resume_parser_service_spark.streaming.cdc import stream_changes


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "url string, text string, vector array<double>")


def _drain(spark, root, checkpoint, name, starting_version=0):
    """One availableNow pass into a fresh memory sink; returns the
    sink's accumulated rows as {(url, version): change_type}."""
    q = (stream_changes(spark, root, starting_version)
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    q.stop()
    return {(r["url"], r["_commit_version"]): r["_change_type"]
            for r in spark.sql(f"select * from {name}").collect()}


def test_stream_matches_batch_read_changes(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [("u1", "a", [1.0]), ("u2", "b", [2.0])]))
    tbl.commit(_df(spark, [("u3", "c", [3.0])]))
    tbl.delete_keys(spark, ["u1"])
    got = _drain(spark, str(tmp_path / "t"), str(tmp_path / "cp"),
                 f"cdc_{uuid.uuid4().hex[:8]}")
    want = {(r["url"], r["_commit_version"]): r["_change_type"]
            for r in tbl.read_changes(spark, 0).collect()}
    assert got == want
    assert ("u1", 3) in got and got[("u1", 3)] == "delete"


def test_stream_preserves_vector_column(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [("u1", "a", [1.5, -2.0])]))
    df = stream_changes(spark, str(tmp_path / "t"))
    assert dict(df.dtypes)["vector"] == "array<double>"
    name = f"cdc_{uuid.uuid4().hex[:8]}"
    q = (df.writeStream.format("memory").queryName(name)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    q.stop()
    [row] = spark.sql(f"select * from {name}").collect()
    assert row["vector"] == [1.5, -2.0]


def test_stream_schema_is_recorded_and_nullable(spark, tmp_path):
    """The stream plans with the schema the last snapshot's manifest
    recorded, every column nullable — a column a writer declared NOT
    NULL can still be missing from older files, which serve it as
    nulls."""
    from pyspark.sql import functions as F
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [("u1", "a", [1.0])]).withColumn("n", F.lit(1)))
    df = stream_changes(spark, str(tmp_path / "t"))
    assert [(f.name, f.dataType.simpleString(), f.nullable)
            for f in df.schema] == [
        ("url", "string", True), ("text", "string", True),
        ("vector", "array<double>", True), ("n", "int", True),
        ("_commit_version", "bigint", True),
        ("_change_type", "string", True)]
    assert df.schema["vector"].dataType.containsNull


def test_checkpointed_restart_serves_only_new_snapshots(spark, tmp_path):
    """The offset survives in the checkpoint: a second availableNow
    pass after new commits appends ONLY the new snapshots' rows
    (file sink — the memory sink cannot recover a checkpoint)."""
    root, cp = str(tmp_path / "t"), str(tmp_path / "cp")
    out = str(tmp_path / "out")
    tbl = SnapshotTable(root)
    tbl.commit(_df(spark, [("u1", "a", [1.0])]))

    def drain():
        q = (stream_changes(spark, root)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", cp)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
        return {(r["url"], r["_commit_version"]): r["_change_type"]
                for r in spark.read.parquet(out).collect()}

    assert drain() == {("u1", 1): "insert"}
    tbl.commit(_df(spark, [("u2", "b", [2.0])]))
    tbl.delete_keys(spark, ["u1"])
    # SAME checkpoint + sink: only snapshots 2..3 are appended
    assert drain() == {("u1", 1): "insert", ("u2", 2): "insert",
                       ("u1", 3): "delete"}


def test_starting_version_skips_history(spark, tmp_path):
    root = str(tmp_path / "t")
    tbl = SnapshotTable(root)
    tbl.commit(_df(spark, [("u1", "a", [1.0])]))
    tbl.commit(_df(spark, [("u2", "b", [2.0])]))
    got = _drain(spark, root, str(tmp_path / "cp"),
                 f"cdc_{uuid.uuid4().hex[:8]}", starting_version=1)
    assert got == {("u2", 2): "insert"}


def test_stream_across_preserving_compaction(spark, tmp_path):
    """A stamp-preserving compaction keeps the changelog streamable:
    a fresh stream over the compacted table still serves the delete
    event and the surviving stamps."""
    root = str(tmp_path / "t")
    tbl = SnapshotTable(root)
    tbl.commit(_df(spark, [("u1", "a", [1.0]), ("u2", "b", [2.0])]))
    tbl.delete_keys(spark, ["u1"])
    tbl.compact(spark, mode="current", keep_versions=2)
    tbl.expire_snapshots()
    got = _drain(spark, root, str(tmp_path / "cp"),
                 f"cdc_{uuid.uuid4().hex[:8]}", starting_version=1)
    assert got == {("u1", 2): "delete"}


def test_restamping_compaction_fails_loud(spark, tmp_path):
    """A range crossing a default (re-stamping) compaction must error,
    not report the whole table as freshly inserted."""
    from pyspark.errors.exceptions.captured import StreamingQueryException
    root = str(tmp_path / "t")
    tbl = SnapshotTable(root)
    tbl.commit(_df(spark, [("u1", "a", [1.0])]))
    tbl.commit(_df(spark, [("u2", "b", [2.0])]))
    tbl.compact(spark)  # re-stamps: history collapsed
    q = (stream_changes(spark, root, starting_version=1)
         .writeStream.format("memory")
         .queryName(f"cdc_{uuid.uuid4().hex[:8]}")
         .trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException,
                       match="re-stamping compaction"):
        q.awaitTermination(120)
    q.stop()


def test_evolved_table_refused(spark, tmp_path):
    root = str(tmp_path / "t")
    tbl = SnapshotTable(root)
    tbl.commit(_df(spark, [("u1", "a", [1.0])]))
    tbl.add_column("lang", "string")
    with pytest.raises(Exception, match="schema-evolution"):
        stream_changes(spark, root).schema


def test_mid_stream_evolution_fails_loud(spark, tmp_path):
    """An evolution op declared AFTER the stream opened must fail the
    NEXT micro-batch's planning, not silently serve NULLs for the
    renamed column via read()'s file-predates-column branch —
    partitions() re-checks every batch; the open-time check alone
    cannot see a mid-stream declaration."""
    from resume_parser_service_spark.streaming.cdc import _CDCStreamReader
    root = str(tmp_path / "t")
    tbl = SnapshotTable(root)
    tbl.commit(_df(spark, [("u1", "a", [1.0])]))
    reader = _CDCStreamReader(root, 0)  # opened while the table is clean
    assert reader.partitions({"version": 0}, {"version": 1})
    tbl.rename_column("text", "body")  # declared mid-stream
    with pytest.raises(ValueError, match="schema-evolution"):
        reader.partitions({"version": 0}, {"version": 1})


def _index_rows(spark, idx_root):
    from resume_parser_service_spark.pipeline.writer import SnapshotTable
    df = SnapshotTable(idx_root).read_live(spark)
    if df is None:
        return set()
    return {(r["url"], r["band_id"], r["band_hash"])
            for r in df.collect()}


def test_stream_neardup_index_bootstrap_and_scrub(spark, tmp_path):
    """The CDC consumer bootstraps the band index from the changelog,
    absorbs replayed upserts (identical bands = self-match, never
    re-appended), and scrubs deleted urls out of the index."""
    from resume_parser_service_spark.operators.incremental import (
        band_signatures)
    from resume_parser_service_spark.streaming.cdc import (
        stream_neardup_index)

    root, idx = str(tmp_path / "t"), str(tmp_path / "idx")
    cp = str(tmp_path / "cp")
    tbl = SnapshotTable(root)
    d1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    d2 = "one two three four five six seven eight nine ten eleven"
    tbl.commit(_df(spark, [("u1", d1, [1.0]), ("u2", d2, [2.0])]))

    q = stream_neardup_index(spark, root, idx, cp)
    q.awaitTermination(120); q.stop()
    want = {(r["doc_id"], r["band_id"], r["band_hash"])
            for r in band_signatures(
                spark, spark.createDataFrame(
                    [("u1", d1), ("u2", d2)],
                    "doc_id string, text string")).collect()}
    assert _index_rows(spark, idx) == want

    # replayed upsert of identical text: self-match, not re-appended
    tbl.commit(_df(spark, [("u1", d1, [1.0])]))
    q = stream_neardup_index(spark, root, idx, cp)
    q.awaitTermination(120); q.stop()
    assert len([r for r in _index_rows(spark, idx) if r[0] == "u1"]) == 4

    # delete scrubs the url's bands out of the live index
    tbl.delete_keys(spark, ["u2"])
    q = stream_neardup_index(spark, root, idx, cp)
    q.awaitTermination(120); q.stop()
    rows = _index_rows(spark, idx)
    assert not [r for r in rows if r[0] == "u2"]
    assert [r for r in rows if r[0] == "u1"]


def test_neardup_index_insert_then_delete_same_batch(spark, tmp_path):
    """Bootstrap case (review finding): when a url's insert AND delete
    are served in ONE micro-batch, the final event decides — no live
    bands may survive for it."""
    from resume_parser_service_spark.streaming.cdc import (
        stream_neardup_index)
    root, idx = str(tmp_path / "t"), str(tmp_path / "idx")
    tbl = SnapshotTable(root)
    tbl.commit(_df(spark, [("u2", "one two three four five six seven",
                            [1.0])]))
    tbl.delete_keys(spark, ["u2"])
    q = stream_neardup_index(spark, root, idx, str(tmp_path / "cp"))
    q.awaitTermination(120); q.stop()
    assert not [r for r in _index_rows(spark, idx) if r[0] == "u2"]


def test_neardup_index_update_replaces_stale_bands(spark, tmp_path):
    """A real text rewrite (review finding): the url's OLD bands are
    tombstoned and the index ends up exactly equal to the new text's
    signature — no stale bands producing candidates against text that
    no longer exists, and no dropped new bands when some bands still
    collide with the old version."""
    from resume_parser_service_spark.operators.incremental import (
        band_signatures)
    from resume_parser_service_spark.streaming.cdc import (
        stream_neardup_index)
    root, idx, cp = (str(tmp_path / "t"), str(tmp_path / "idx"),
                     str(tmp_path / "cp"))
    tbl = SnapshotTable(root)
    t_old = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t_new = "alpha beta gamma delta epsilon zeta eta theta iota OMEGA"
    tbl.commit(_df(spark, [("u1", t_old, [1.0])]))
    q = stream_neardup_index(spark, root, idx, cp)
    q.awaitTermination(120); q.stop()
    tbl.commit(_df(spark, [("u1", t_new, [1.0])]))
    q = stream_neardup_index(spark, root, idx, cp)
    q.awaitTermination(120); q.stop()
    want = {("u1", r["band_id"], r["band_hash"])
            for r in band_signatures(
                spark, spark.createDataFrame(
                    [("u1", t_new)], "doc_id string, text string")
            ).collect()}
    assert _index_rows(spark, idx) == want


def test_snapshot_listing_skips_tmp_manifests(spark, tmp_path):
    """A half-written `.tmp-*.json` in _snapshots (a racing writer
    mid-commit) must be ignored by both the batch table and the
    streaming source (review finding: a continuously polling stream
    crashed on JSONDecodeError or double-served the snapshot)."""
    import os
    from resume_parser_service_spark.pipeline.manifests import (
        list_snapshots)
    root = str(tmp_path / "t")
    tbl = SnapshotTable(root)
    tbl.commit(_df(spark, [("u1", "a", [1.0])]))
    with open(os.path.join(root, "_snapshots", ".tmp-deadbeef.json"),
              "w") as fh:
        fh.write("{ half writ")  # invalid JSON, mid-write
    # one resolution path for batch and stream (pipeline.manifests)
    assert [s["id"] for s in tbl.snapshots()] == [1]
    assert [s["id"] for s in list_snapshots(root)] == [1]


def test_stream_serves_timestamp_columns(spark, tmp_path):
    """Spark-written parquet timestamps come back from pyarrow as
    NANOSECOND — Spark's Arrow bridge takes only microseconds, so the
    reader must normalize units (review-found on the real pages
    table's warc_ts)."""
    import datetime
    root = str(tmp_path / "t")
    tbl = SnapshotTable(root)
    ts = datetime.datetime(2026, 8, 18, 12, 0, 0)
    tbl.commit(spark.createDataFrame(
        [("u1", ts)], "url string, warc_ts timestamp"))
    name = f"cdc_{uuid.uuid4().hex[:8]}"
    q = (stream_changes(spark, root)
         .writeStream.format("memory").queryName(name)
         .trigger(availableNow=True).start())
    q.awaitTermination(120); q.stop()
    [row] = spark.sql(f"select * from {name}").collect()
    assert row["warc_ts"] == ts


def test_continuous_poll_picks_up_new_commits(spark, tmp_path):
    """Processing-time trigger: snapshots committed WHILE the stream
    runs are picked up by the next latestOffset poll — the continuous
    tail-the-table mode (availableNow covers catch-up)."""
    import time
    root = str(tmp_path / "t")
    tbl = SnapshotTable(root)
    tbl.commit(_df(spark, [("u1", "a", [1.0])]))
    name = f"cdc_{uuid.uuid4().hex[:8]}"
    q = (stream_changes(spark, root)
         .writeStream.format("memory").queryName(name)
         .trigger(processingTime="1 seconds").start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql(f"select * from {name}").count() >= 1:
                break
            time.sleep(1)
        tbl.commit(_df(spark, [("u2", "b", [2.0])]))
        got = {}
        while time.time() < deadline:
            got = {(r["url"], r["_commit_version"]): r["_change_type"]
                   for r in spark.sql(f"select * from {name}").collect()}
            if ("u2", 2) in got:
                break
            time.sleep(1)
        assert got == {("u1", 1): "insert", ("u2", 2): "insert"}
    finally:
        q.stop()


def test_stream_serves_nested_timestamps(spark, tmp_path):
    """Nanosecond normalization must recurse into structs and arrays —
    a top-level-only cast leaves nested timestamp[ns] for the Arrow
    bridge to reject."""
    import datetime
    root = str(tmp_path / "t")
    tbl = SnapshotTable(root)
    ts = datetime.datetime(2026, 8, 18, 12, 0, 0)
    tbl.commit(spark.createDataFrame(
        [("u1", (ts,), [ts])],
        "url string, meta struct<fetched_at: timestamp>, "
        "ts_list array<timestamp>"))
    name = f"cdc_{uuid.uuid4().hex[:8]}"
    q = (stream_changes(spark, root)
         .writeStream.format("memory").queryName(name)
         .trigger(availableNow=True).start())
    q.awaitTermination(120); q.stop()
    [row] = spark.sql(f"select * from {name}").collect()
    assert row["meta"]["fetched_at"] == ts
    assert row["ts_list"] == [ts]


def test_neardup_index_scrub_never_collects_keys(spark, tmp_path):
    """A bootstrap/mass-delete batch must keep the scrub key set
    DISTRIBUTED: the whole foreachBatch body (band diff, tombstone
    scrub via delete_keys, append) runs with DataFrame.collect and
    toPandas BANNED on the driver. A driver-side key list (the r4
    shape) would fail here on the 300-url delete sweep."""
    from pyspark.sql import DataFrame as _DF
    from resume_parser_service_spark.streaming.cdc import (
        stream_neardup_index)
    root, idx, cp = (str(tmp_path / "t"), str(tmp_path / "idx"),
                     str(tmp_path / "cp"))
    tbl = SnapshotTable(root)
    rows = [(f"u{i}", f"w{i} x{i} y{i} z{i} common tail {i % 7}", [1.0])
            for i in range(300)]
    tbl.commit(_df(spark, rows))
    tbl.delete_keys(spark, [f"u{i}" for i in range(0, 300, 2)])

    real_collect, real_topd = _DF.collect, _DF.toPandas

    def _banned(self, *a, **k):
        raise AssertionError(
            "driver materialization inside the CDC index maintainer")

    _DF.collect = _banned
    _DF.toPandas = _banned
    try:
        q = stream_neardup_index(spark, root, idx, cp)
        q.awaitTermination(180)
        q.stop()
    finally:
        _DF.collect, _DF.toPandas = real_collect, real_topd
    live = {r[0] for r in _index_rows(spark, idx)}
    assert live == {f"u{i}" for i in range(1, 300, 2)}


def test_delete_keys_accepts_dataframe(spark, tmp_path):
    """SnapshotTable.delete_keys with a DataFrame key set: semi-join
    inside the commit, same tombstone semantics as the list form (any
    single-column frame works — the column is renamed to the key)."""
    root = str(tmp_path / "t")
    tbl = SnapshotTable(root)
    tbl.commit(_df(spark, [("u1", "a", [1.0]), ("u2", "b", [2.0]),
                           ("u3", "c", [3.0])]))
    keys = spark.createDataFrame(
        [("u1",), ("u3",), ("u3",), ("missing",)], "k string")
    snap = tbl.delete_keys(spark, keys)
    assert snap == 2
    assert [r["url"] for r in
            tbl.read_current(spark).collect()] == ["u2"]
    # all-miss key frame: no empty tombstone snapshot
    assert tbl.delete_keys(
        spark, spark.createDataFrame([("nope",)], "k string")) is None


def test_delete_keys_dataframe_non_identifier_column(spark, tmp_path):
    """Key frames whose column is a reserved word or non-identifier
    must still delete (no selectExpr string-splicing), and multi-column
    frames are rejected loudly instead of silently using column 0."""
    root = str(tmp_path / "t")
    tbl = SnapshotTable(root)
    tbl.commit(_df(spark, [("u1", "a", [1.0]), ("u2", "b", [2.0])]))
    keys = spark.createDataFrame([("u1",)], "`user key` string")
    assert tbl.delete_keys(spark, keys) == 2
    assert [r["url"] for r in
            tbl.read_current(spark).collect()] == ["u2"]
    with pytest.raises(ValueError, match="single-column"):
        tbl.delete_keys(spark, spark.createDataFrame(
            [("u2", 1)], "k string, extra int"))


def test_maintain_index_cli(spark, tmp_path, capsys):
    """The --maintain-index CLI branch end-to-end: drains until the
    checkpoint commits the table's latest snapshot (looping past the
    single-batch fallback) and reports the index state; a re-run is a
    no-op on the same index snapshot."""
    import json as _json
    from resume_parser_service_spark.__main__ import main
    out_root = str(tmp_path / "o")
    tbl = SnapshotTable(out_root + "/resumes_extracted")
    tbl.commit(_df(spark, [("u1", "one two three four five six", [1.0])]))
    tbl.commit(_df(spark, [("u2", "seven eight nine ten eleven x", [2.0])]))
    idx = str(tmp_path / "idx")

    def run():
        assert main(["--output", out_root, "--maintain-index", idx]) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    first = run()
    assert first["mode"] == "maintain_index"
    assert first["live_band_rows"] == 8 and first["drains"] >= 1
    second = run()
    assert second["index_snapshot"] == first["index_snapshot"]
    assert second["live_band_rows"] == 8
