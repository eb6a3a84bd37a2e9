"""Snapshot-table MERGE semantics: diff-update with no-op elision
(B6, vector excluded from comparison), delete tombstones (B7),
replace-on-key current reads (B5), time travel (B12)."""

import pandas as pd
from pyspark.sql import functions as F

from resume_parser_service_spark.pipeline.writer import SnapshotTable


def _df(spark, rows):
    pdf = pd.DataFrame(rows, columns=["url", "text", "vector"])
    return spark.createDataFrame(
        pdf, "url string, text string, vector array<float>")


def test_merge_insert_update_elide(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    r1 = tbl.merge_upsert(spark, _df(spark, [
        ("u1", "alpha", [1.0]), ("u2", "beta", [2.0])]))
    assert r1 == {"inserted": 2, "updated": 0, "unchanged": 0,
                  "snapshot_id": 1}

    # u1 unchanged, u2 text changed, u3 new
    r2 = tbl.merge_upsert(spark, _df(spark, [
        ("u1", "alpha", [1.0]), ("u2", "beta2", [2.0]),
        ("u3", "gamma", [3.0])]))
    assert r2["inserted"] == 1
    assert r2["updated"] == 1
    assert r2["unchanged"] == 1

    cur = tbl.read_current(spark)
    state = {r["url"]: r["text"] for r in cur.collect()}
    assert state == {"u1": "alpha", "u2": "beta2", "u3": "gamma"}


def test_merge_excludes_vector_from_diff(spark, tmp_path):
    """Vector-only change is a no-op update — the reference's diff
    excludes ``vector`` (/root/reference/app/services/resume_service.py:
    220-223)."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.merge_upsert(spark, _df(spark, [("u1", "alpha", [1.0])]))
    r = tbl.merge_upsert(spark, _df(spark, [("u1", "alpha", [9.0])]))
    assert r == {"inserted": 0, "updated": 0, "unchanged": 1,
                 "snapshot_id": None}


def test_delete_tombstone(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.merge_upsert(spark, _df(spark, [
        ("u1", "alpha", [1.0]), ("u2", "beta", [2.0])]))
    snap = tbl.delete_keys(spark, ["u1"])
    assert snap == 2
    cur = tbl.read_current(spark)
    assert [r["url"] for r in cur.collect()] == ["u2"]
    # deleting a missing key is a no-op
    assert tbl.delete_keys(spark, ["nope"]) is None


def test_delete_keys_frame_with_dotted_column_name(spark, tmp_path):
    """A key FRAME whose single column contains a dot must resolve
    positionally — F.col('a.b') would parse it as struct-field access
    (advisor finding, r5)."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.merge_upsert(spark, _df(spark, [
        ("u1", "alpha", [1.0]), ("u2", "beta", [2.0])]))
    keys = spark.createDataFrame([("u2",)], ["the.key"])
    assert tbl.delete_keys(spark, keys) == 2
    assert [r["url"] for r in tbl.read_current(spark).collect()] == ["u1"]


def test_time_travel_sees_pre_update_state(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.merge_upsert(spark, _df(spark, [("u1", "alpha", [1.0])]))
    tbl.merge_upsert(spark, _df(spark, [("u1", "alpha2", [1.0])]))
    v1 = tbl.read_current(spark, version=1)
    assert v1.collect()[0]["text"] == "alpha"
    assert tbl.read_current(spark).collect()[0]["text"] == "alpha2"


def test_null_fields_compare_null_safe(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.merge_upsert(spark, _df(spark, [("u1", None, [1.0])]))
    # same null text -> unchanged (null-safe equality)
    r = tbl.merge_upsert(spark, _df(spark, [("u1", None, [1.0])]))
    assert r["unchanged"] == 1 and r["updated"] == 0
    # null -> value is a change
    r2 = tbl.merge_upsert(spark, _df(spark, [("u1", "now-set", [1.0])]))
    assert r2["updated"] == 1


def test_schema_evolution_across_snapshots(spark, tmp_path):
    """A column added in a later snapshot reads back across the union
    (older rows NULL) — Iceberg-style schema evolution semantics."""
    from resume_parser_service_spark.pipeline.writer import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([("u1", 1)], "url string, v int"))
    t.commit(spark.createDataFrame([("u2", 2, "x")],
                                   "url string, v int, extra string"))
    rows = {r["url"]: r for r in t.read(spark).collect()}
    assert rows["u1"]["extra"] is None
    assert rows["u2"]["extra"] == "x"


def test_version_history_per_key(spark, tmp_path):
    """B12 per-key versions: every live row of a key is readable by
    (key, version) in snapshot order, matching the reference's
    versioned resume reads (resume_repository.py:32-70)."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.merge_upsert(spark, _df(spark, [("u1", "v1-text", [1.0]),
                                        ("u2", "other", [9.0])]))
    tbl.merge_upsert(spark, _df(spark, [("u1", "v2-text", [1.0])]))
    tbl.merge_upsert(spark, _df(spark, [("u1", "v3-text", [1.0])]))

    hist = tbl.read_versions(spark, key="u1").orderBy("_version").collect()
    assert [(r["_version"], r["text"]) for r in hist] == \
        [(1, "v1-text"), (2, "v2-text"), (3, "v3-text")]
    v2 = tbl.version_lookup(spark, "u1", 2).collect()
    assert len(v2) == 1 and v2[0]["text"] == "v2-text"
    # current read still resolves to the newest version
    cur = {r["url"]: r["text"] for r in tbl.read_current(spark).collect()}
    assert cur == {"u1": "v3-text", "u2": "other"}


def test_versioned_compaction_retains_history(spark, tmp_path):
    """compact(keep_versions=2) rewrites the table keeping the newest 2
    versions per key readable by (key, version) — even after
    expire_snapshots reclaims the pre-compaction data."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.merge_upsert(spark, _df(spark, [("u1", "v1-text", [1.0])]))
    tbl.merge_upsert(spark, _df(spark, [("u1", "v2-text", [1.0])]))
    tbl.merge_upsert(spark, _df(spark, [("u1", "v3-text", [1.0])]))
    res = tbl.compact(spark, mode="current", keep_versions=2)
    assert res["compacted"] == 3
    tbl.expire_snapshots()

    hist = tbl.read_versions(spark, key="u1").orderBy("_version").collect()
    assert [(r["_version"], r["text"]) for r in hist] == \
        [(1, "v2-text"), (2, "v3-text")]
    assert tbl.version_lookup(spark, "u1", 1).collect()[0]["text"] == \
        "v2-text"
    # current resolution unharmed by preserved snapshot stamps
    assert tbl.read_current(spark).collect()[0]["text"] == "v3-text"
    # post-compaction upserts append version 3
    tbl.merge_upsert(spark, _df(spark, [("u1", "v4-text", [1.0])]))
    hist2 = tbl.read_versions(spark, key="u1").orderBy("_version").collect()
    assert [r["text"] for r in hist2] == ["v2-text", "v3-text", "v4-text"]


def test_versioned_compaction_respects_tombstones(spark, tmp_path):
    """A tombstone erases history at/below it even through versioned
    compaction; re-appended rows restart the version sequence."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.merge_upsert(spark, _df(spark, [("u1", "old", [1.0])]))
    tbl.delete_keys(spark, ["u1"])
    tbl.merge_upsert(spark, _df(spark, [("u1", "reborn", [1.0])]))
    tbl.compact(spark, mode="current", keep_versions=5)
    hist = tbl.read_versions(spark, key="u1").collect()
    assert [(r["_version"], r["text"]) for r in hist] == [(1, "reborn")]


def test_append_compact_preserves_snapshot_order(spark, tmp_path):
    """r4 review: append-mode compaction must keep original snapshot
    stamps so per-key order (read_versions) survives the rewrite."""
    import pytest
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [("u1", "first", [1.0])]))
    tbl.commit(_df(spark, [("u1", "second", [1.0])]))
    tbl.compact(spark, mode="append")
    tbl.expire_snapshots()
    hist = tbl.read_versions(spark, key="u1").orderBy("_version").collect()
    assert [(r["_version"], r["text"]) for r in hist] == \
        [(1, "first"), (2, "second")]
    with pytest.raises(ValueError):
        tbl.compact(spark, mode="append", keep_versions=2)


def test_commit_writes_key_bloom_filter(spark, tmp_path):
    """Data files carry a parquet bloom filter on the key column sized
    by bloom_ndv: point lookups that survive manifest min/max pruning
    still skip row groups at the scan without decoding them. Verified
    by the NDV-proportional size the bloom adds (pyarrow 1.x exposes
    no bloom metadata accessor); reads are unaffected."""
    import os

    def _bytes(tbl):
        snap = tbl.live_snapshots()[-1]
        return sum(os.path.getsize(os.path.join(dp, f))
                   for dp, _d, fs in os.walk(
                       os.path.join(tbl.root, snap["path"]))
                   for f in fs if f.endswith(".parquet"))

    rows = [(f"u{i}", f"t{i}", [float(i)]) for i in range(50)]
    on = SnapshotTable(str(tmp_path / "on"), bloom_ndv=100_000)
    off = SnapshotTable(str(tmp_path / "off"))  # default: blooms off
    on.commit(_df(spark, rows), partitions=1)
    off.commit(_df(spark, rows), partitions=1)
    # 100k-NDV bloom ~ 120 KB/file vs a few-KB bare file
    assert _bytes(on) > _bytes(off) + 50_000
    assert sorted(r["url"] for r in on.read_current(spark).collect()) \
        == sorted(r["url"] for r in off.read_current(spark).collect())


def test_empty_merge_into_empty_table_commits_nothing(spark, tmp_path):
    """An empty merge commits no snapshot, on an empty table as on a
    non-empty one."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    assert tbl.merge_upsert(spark, _df(spark, [])) == {
        "inserted": 0, "updated": 0, "unchanged": 0, "snapshot_id": None}
    assert tbl.snapshots() == []
    tbl.merge_upsert(spark, _df(spark, [("u1", "a", [1.0])]))
    assert tbl.merge_upsert(spark, _df(spark, []))["snapshot_id"] is None
    assert [s["id"] for s in tbl.snapshots()] == [1]
