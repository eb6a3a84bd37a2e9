"""Incremental changelog reads (Iceberg incremental-scan / CDC
semantics): ``SnapshotTable.read_changes`` serves only the rows
committed after a checkpoint snapshot — the nightly-delta primitive
that lets downstream consumers skip rescanning the table."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from resume_parser_service_spark.pipeline.writer import SnapshotTable


def _df(spark, rows):
    pdf = pd.DataFrame(rows, columns=["url", "text", "vector"])
    return spark.createDataFrame(
        pdf, "url string, text string, vector array<float>")


def _changes(tbl, spark, from_version, **kw):
    df = tbl.read_changes(spark, from_version, **kw)
    if df is None:
        return {}
    return {(r["url"], r["_commit_version"]): r["_change_type"]
            for r in df.collect()}


def test_changes_after_checkpoint_only(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [("u1", "a", [1.0]), ("u2", "b", [2.0])]))
    tbl.commit(_df(spark, [("u3", "c", [3.0])]))
    tbl.commit(_df(spark, [("u4", "d", [4.0]), ("u5", "e", [5.0])]))

    assert _changes(tbl, spark, 1) == {
        ("u3", 2): "insert", ("u4", 3): "insert", ("u5", 3): "insert"}
    # from the latest snapshot: empty delta
    assert _changes(tbl, spark, 3) == {}
    # from zero: the whole table is the delta
    assert len(_changes(tbl, spark, 0)) == 5


def test_changes_to_version_bound(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    for i in range(1, 5):
        tbl.commit(_df(spark, [(f"u{i}", "x", [1.0])]))
    assert _changes(tbl, spark, 1, to_version=3) == {
        ("u2", 2): "insert", ("u3", 3): "insert"}


def test_delete_appears_as_delete_change(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [("u1", "a", [1.0]), ("u2", "b", [2.0])]))
    tbl.delete_keys(spark, ["u1"])
    assert _changes(tbl, spark, 1) == {("u1", 2): "delete"}


def test_classify_updates_vs_inserts(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [("u1", "a", [1.0]), ("u2", "b", [2.0])]))
    # u1 rewritten (existing key), u3 brand-new
    tbl.commit(_df(spark, [("u1", "a2", [1.5]), ("u3", "c", [3.0])]))
    assert _changes(tbl, spark, 1, classify_updates=True) == {
        ("u1", 2): "update_after", ("u3", 2): "insert"}
    # without classification both are plain inserts
    assert _changes(tbl, spark, 1) == {
        ("u1", 2): "insert", ("u3", 2): "insert"}


def test_classify_does_not_relabel_deletes(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [("u1", "a", [1.0])]))
    tbl.delete_keys(spark, ["u1"])
    assert _changes(tbl, spark, 1, classify_updates=True) == {
        ("u1", 2): "delete"}


def test_changes_survive_stamp_preserving_compaction(spark, tmp_path):
    """An append-mode compaction preserves original _snapshot_id
    stamps, so a delta read across it still excludes the
    pre-checkpoint rows the rewritten files carry."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [("u1", "a", [1.0])]))
    tbl.commit(_df(spark, [("u2", "b", [2.0])]))
    tbl.commit(_df(spark, [("u3", "c", [3.0])]))
    tbl.compact(spark, mode="append")  # snap 4 replaces 1-3, stamps kept
    assert _changes(tbl, spark, 1) == {
        ("u2", 2): "insert", ("u3", 3): "insert"}
    # ... and keeps serving the delta after the originals are expired
    tbl.expire_snapshots()
    assert _changes(tbl, spark, 1) == {
        ("u2", 2): "insert", ("u3", 3): "insert"}


def test_changes_across_restamping_compaction_raises(spark, tmp_path):
    """A default (mode='current') compaction re-stamps rows with its
    own snapshot id — history before it is collapsed, so a delta read
    across it must refuse (Iceberg's incremental-read-across-overwrite
    error), not report the whole table as freshly inserted."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [("u1", "a", [1.0])]))
    tbl.commit(_df(spark, [("u2", "b", [2.0])]))
    tbl.compact(spark)
    with pytest.raises(ValueError, match="re-stamping compaction"):
        tbl.read_changes(spark, 1)
    # from the compaction itself onward the changelog works again
    tbl.commit(_df(spark, [("u3", "c", [3.0])]))
    assert _changes(tbl, spark, 3) == {("u3", 4): "insert"}


def test_changes_bad_range_raises(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [("u1", "a", [1.0])]))
    with pytest.raises(ValueError):
        tbl.read_changes(spark, -1)
    with pytest.raises(ValueError):
        tbl.read_changes(spark, 3, to_version=2)


def test_changes_empty_table_and_schema(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    assert tbl.read_changes(spark, 0) is None
    tbl.commit(_df(spark, [("u1", "a", [1.0])]))
    cols = set(tbl.read_changes(spark, 0).columns)
    assert {"url", "text", "vector",
            "_change_type", "_commit_version"} <= cols
    assert "_deleted" not in cols and "_snapshot_id" not in cols


def test_changes_under_schema_evolution(spark, tmp_path):
    """Delta rows are served in the CURRENT schema: a rename between
    the checkpoint and the delta commit maps old parquet names."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [("u1", "a", [1.0])]))
    tbl.rename_column("text", "body")
    pdf = pd.DataFrame([("u2", "b", [2.0])],
                       columns=["url", "body", "vector"])
    tbl.commit(spark.createDataFrame(
        pdf, "url string, body string, vector array<float>"))
    delta = tbl.read_changes(spark, 1)
    rows = delta.collect()
    assert [r["url"] for r in rows] == ["u2"]
    assert rows[0]["body"] == "b"


def test_delete_event_survives_preserving_compaction(spark, tmp_path):
    """Stamp-preserving compactions must carry tombstones forward: a
    CDC consumer checkpointed before the rewrite still sees the delete
    event (review finding: _live_rows-only rewrites silently dropped
    tombstones from the changelog)."""
    for mode, kw in (("append", {}), ("current", {"keep_versions": 2})):
        tbl = SnapshotTable(str(tmp_path / mode))
        tbl.commit(_df(spark, [("u1", "a", [1.0]), ("u2", "b", [2.0])]))
        tbl.delete_keys(spark, ["u1"])
        tbl.compact(spark, mode=mode, **kw)
        tbl.expire_snapshots()
        assert _changes(tbl, spark, 1) == {("u1", 2): "delete"}, mode
        # table state semantics unchanged by the retained tombstone
        assert [r["url"] for r in tbl.read_current(spark).collect()] == \
            ["u2"], mode


def test_classify_updates_after_compaction_and_expiry(spark, tmp_path):
    """classify_updates resolves liveness from surviving stamps, so it
    works after the pre-checkpoint snapshots are expired (review
    finding: the old read_current(version=...) path raised a
    time-travel error)."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [("u1", "a", [1.0])]))
    tbl.commit(_df(spark, [("u1", "a2", [1.5]), ("u2", "b", [2.0])]))
    tbl.compact(spark, mode="current", keep_versions=3)
    tbl.expire_snapshots()
    assert _changes(tbl, spark, 1, classify_updates=True) == {
        ("u1", 2): "update_after", ("u2", 2): "insert"}


def test_changelog_replay_reconstructs_state_property(spark, tmp_path):
    """CDC replay invariant: folding the changelog from version 0 in
    commit order (last event per key wins; delete erases) reconstructs
    read_current EXACTLY — across upserts, deletes, re-inserts after
    delete, stamp-preserving compactions, and snapshot expiry. This is
    the contract every downstream CDC consumer (index refresh, mirror
    table) silently depends on."""
    import random
    rng = random.Random(42)
    keys = [f"u{i}" for i in range(8)]
    for trial in range(3):
        tbl = SnapshotTable(str(tmp_path / f"t{trial}"))
        alive: set = set()
        for step in range(7):
            op = rng.choice(["commit", "commit", "commit", "delete",
                             "compact"])
            if op == "commit":
                ks = rng.sample(keys, rng.randint(1, 3))
                tbl.commit(_df(spark, [(k, f"{k}@{step}",
                                        [float(step)]) for k in ks]))
                alive.update(ks)
            elif op == "delete" and alive:
                k = rng.choice(sorted(alive))
                tbl.delete_keys(spark, [k])
                alive.discard(k)
            elif op == "compact" and len(tbl.live_snapshots()) > 2:
                tbl.compact(spark, mode="current", keep_versions=2)
                tbl.expire_snapshots()
        delta = tbl.read_changes(spark, 0)
        state: dict = {}
        if delta is not None:
            rows = sorted(delta.collect(),
                          key=lambda r: r["_commit_version"])
            for r in rows:
                if r["_change_type"] == "delete":
                    state.pop(r["url"], None)
                else:
                    state[r["url"]] = r["text"]
        cur = {r["url"]: r["text"]
               for r in tbl.read_current(spark).collect()}
        assert state == cur, f"trial {trial}: replay diverged"
        assert set(cur) == alive, f"trial {trial}: liveness diverged"
