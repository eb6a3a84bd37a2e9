"""Snapshot-table maintenance: bin-pack compaction (Iceberg
rewrite_data_files semantics), snapshot expiry (time-travel horizon),
and manifest-stats file pruning — the small-file + metadata defenses
an incremental 100 TB ingest needs."""

import os

import pandas as pd
import pytest

from resume_parser_service_spark.pipeline.writer import SnapshotTable


def _df(spark, rows):
    pdf = pd.DataFrame(rows, columns=["url", "text", "vector"])
    return spark.createDataFrame(
        pdf, "url string, text string, vector array<float>")


def _data_dirs(tbl):
    return sorted(
        d for d in os.listdir(os.path.join(tbl.root, "data")))


def test_compact_resolves_state_and_replaces_snapshots(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.merge_upsert(spark, _df(spark, [
        ("u1", "alpha", [1.0]), ("u2", "beta", [2.0])]))
    tbl.merge_upsert(spark, _df(spark, [
        ("u2", "beta2", [2.0]), ("u3", "gamma", [3.0])]))
    tbl.delete_keys(spark, ["u1"])
    pre = {r["url"]: r["text"] for r in tbl.read_current(spark).collect()}

    res = tbl.compact(spark)
    assert res["compacted"] == 3
    assert res["snapshot_id"] == 4

    post = {r["url"]: r["text"] for r in tbl.read_current(spark).collect()}
    assert post == pre == {"u2": "beta2", "u3": "gamma"}
    # current reads now scan ONLY the compaction snapshot
    assert [s["id"] for s in tbl.live_snapshots()] == [4]
    # tombstones were physically dropped by the rewrite
    raw = tbl.read(spark)
    assert raw.count() == 2

    # deltas after the compaction still win on key
    tbl.merge_upsert(spark, _df(spark, [("u2", "beta3", [2.0])]))
    post2 = {r["url"]: r["text"] for r in tbl.read_current(spark).collect()}
    assert post2["u2"] == "beta3"


def test_time_travel_survives_compaction_until_expiry(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [("u1", "v1", [1.0])]))
    tbl.commit(_df(spark, [("u1", "v2", [1.0])]))
    tbl.compact(spark)

    # pre-compaction versions use the original chain
    v1 = tbl.read_current(spark, version=1).collect()
    assert v1[0]["text"] == "v1"

    expired = tbl.expire_snapshots()
    assert expired == [1, 2]
    # current state unaffected
    assert tbl.read_current(spark).collect()[0]["text"] == "v2"
    # time travel past the horizon fails loudly, not with silent nulls
    with pytest.raises(ValueError, match="expired"):
        tbl.read_current(spark, version=1)
    # expired data dirs are gone; the compaction's remains
    live = tbl.live_snapshots()
    assert len(live) == 1 and live[0].get("compaction")


def test_manifest_stats_prune_point_lookup(spark, tmp_path):
    """Files whose key [min,max] excludes the probe are pruned without
    being opened (Iceberg manifest pruning)."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    # two snapshots with disjoint key ranges -> disjoint stats
    tbl.commit(_df(spark, [(f"a{i}", "x", [1.0]) for i in range(5)]),
               partitions=1)
    tbl.commit(_df(spark, [(f"z{i}", "y", [1.0]) for i in range(5)]),
               partitions=1)
    snaps = tbl.snapshots()
    assert all(s.get("files") for s in snaps)
    assert all("key_min" in e for s in snaps for e in s["files"])

    pruned = tbl.prune_files(key_eq="z3")
    assert pruned is not None and len(pruned) == 1
    assert tbl.prune_files(key_eq="m")  == []
    assert len(tbl.prune_files(key_min="a0", key_max="a9")) == 1

    row = tbl.point_lookup(spark, "z3").collect()
    assert len(row) == 1 and row[0]["text"] == "y"
    assert tbl.point_lookup(spark, "m").count() == 0


def test_incremental_ingest_auto_compaction(spark, tmp_path):
    """compact_after keeps an incremental ingest's extracted table at a
    bounded snapshot count while resume semantics stay intact."""
    from pyspark.sql import functions as F

    from resume_parser_service_spark.pipeline.run import run_extraction_job
    from resume_parser_service_spark.sources.pages import build_pages_df

    out = str(tmp_path / "out")
    pages = build_pages_df(spark, 30)
    stats = None
    for k in range(3):
        batch = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == k)
        stats = run_extraction_job(spark, batch, out, compact_after=3)
    tbl = SnapshotTable(out + "/resumes_extracted")
    assert stats["compacted"] is not None
    assert len(tbl.live_snapshots()) == 1
    # all three batches' rows survive the compaction
    assert tbl.read_current(spark).count() >= 28
    # and a re-run of the full corpus is still a no-op resume
    again = run_extraction_job(spark, build_pages_df(spark, 30), out,
                               compact_after=3)
    assert again["resumed_noop"] is True


def test_crashed_commit_leaves_no_visible_snapshot(spark, tmp_path):
    """Write-then-atomic-manifest: a crash AFTER the data lands but
    BEFORE the manifest appears must leave readers untouched and not
    perturb the next snapshot id (the snapshot-isolation claim)."""
    import os as _os

    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [("u1", "v1", [1.0])]))
    # simulate the crash: orphan data directory, no manifest
    orphan = _os.path.join(tbl.root, "data", "snap-000002-deadbeef")
    _df(spark, [("ghost", "boo", [0.0])]).write.parquet(orphan)
    assert tbl.read_current(spark).count() == 1
    assert [r["url"] for r in tbl.read_current(spark).collect()] == ["u1"]
    # next commit takes id 2 (manifest chain, not dir listing, decides)
    snap = tbl.commit(_df(spark, [("u2", "v2", [2.0])]))
    assert snap == 2
    assert tbl.read_current(spark).count() == 2


def test_compact_binpacks_file_count(spark, tmp_path):
    """Many tiny delta snapshots collapse to a handful of files."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    for i in range(6):
        tbl.commit(_df(spark, [(f"u{i}-{j}", "t" * 50, [1.0])
                               for j in range(20)]), partitions=4)
    n_files_before = sum(
        len(s.get("files") or []) for s in tbl.live_snapshots())
    assert n_files_before >= 24
    res = tbl.compact(spark, target_file_mb=128)
    assert res["data_files"] == 1
    n_files_after = sum(
        len(s.get("files") or []) for s in tbl.live_snapshots())
    assert n_files_after == 1
    assert tbl.read_current(spark).count() == 120


def test_remove_orphans_sweeps_crashed_commit_only(spark, tmp_path):
    """A crashed commit's manifest-less data dir is swept; committed
    data and in-flight (young) dirs survive; reads are unaffected."""
    import os
    import time

    from resume_parser_service_spark.pipeline.writer import SnapshotTable

    root = str(tmp_path / "tbl")
    tbl = SnapshotTable(root)
    df = spark.range(0, 20).selectExpr("cast(id as string) AS url",
                                       "id AS v")
    tbl.commit(df)

    # simulate a crash between data write and manifest publish
    dead = os.path.join(root, "data", "snap-000099-deadbeef")
    os.makedirs(dead)
    with open(os.path.join(dead, "part-0.parquet"), "wb") as fh:
        fh.write(b"not really parquet")
    old = time.time() - 7200
    os.utime(dead, (old, old))
    # and one "in-flight" dir younger than the age guard
    fresh = os.path.join(root, "data", "snap-000100-aaaaaaaa")
    os.makedirs(fresh)

    removed = tbl.remove_orphans(older_than_s=60)
    assert removed == ["data/snap-000099-deadbeef"]
    assert not os.path.exists(dead)
    assert os.path.exists(fresh)          # age guard held
    assert tbl.read(spark).count() == 20  # committed data untouched

    # second sweep: once stale past the default 1 h grace, it goes too
    os.utime(fresh, (old, old))
    assert tbl.remove_orphans() == ["data/snap-000100-aaaaaaaa"]


def test_concurrent_commit_loser_raises_not_clobbers(spark, tmp_path):
    """Optimistic concurrency: when a racing writer has already
    published the same snapshot id, commit raises SnapshotConflictError
    and the winner's manifest is untouched; the loser's data dir is
    orphan debris that remove_orphans sweeps."""
    import json
    import os

    import pytest

    from resume_parser_service_spark.pipeline.writer import (
        SnapshotConflictError, SnapshotTable)

    root = str(tmp_path / "tbl")
    tbl = SnapshotTable(root)
    df = spark.range(0, 5).selectExpr("cast(id as string) AS url",
                                      "id AS v")
    tbl.commit(df)

    # simulate the true race: the winner's manifest appears AFTER the
    # loser chose its snapshot id (both read last=1) but BEFORE the
    # loser publishes — injected via the _file_stats hook that runs
    # between data write and manifest publish
    winner = {"id": 2, "parent": 1, "path": "data/snap-000002-winner",
              "committed_at": 0.0, "files": []}
    os.makedirs(os.path.join(root, "data", "snap-000002-winner"))
    orig_stats = tbl._file_stats

    def raced(path):
        with open(os.path.join(tbl.snap_dir, "000002.json"), "w") as fh:
            json.dump(winner, fh)
        return orig_stats(path)

    tbl._file_stats = raced
    with pytest.raises(SnapshotConflictError):
        tbl.commit(df)
    tbl._file_stats = orig_stats
    # winner manifest untouched
    with open(os.path.join(tbl.snap_dir, "000002.json")) as fh:
        assert json.load(fh)["path"] == "data/snap-000002-winner"
    # the loser's written-but-unpublished data dir is orphaned; sweep it
    # (grace disabled — in production the 1 h default would retain it)
    orphans = tbl.remove_orphans(older_than_s=0.0)
    assert len(orphans) == 1 and "winner" not in orphans[0]


def test_ingest_loop_compacts_audit_and_bands(spark, tmp_path):
    """compact_after bounds snapshot count on ALL three tables of the
    ingest loop — not just resumes_extracted. The audit log and band
    index compact in append-preserving mode: every url keeps its full
    band-row set (4 bands/url) and its audit row, and resume semantics
    still hold off the compacted audit."""
    from pyspark.sql import functions as F

    from resume_parser_service_spark.pipeline.run import run_extraction_job
    from resume_parser_service_spark.sources.pages import build_pages_df

    out = str(tmp_path / "out")
    pages = build_pages_df(spark, 40)
    for k in range(4):
        batch = pages.filter(F.pmod(F.xxhash64("url"), F.lit(4)) == k)
        run_extraction_job(spark, batch, out, compact_after=2,
                           neardup_index=True)
    audit = SnapshotTable(out + "/extraction_audit")
    bands = SnapshotTable(out + "/neardup_bands")
    assert len(audit.live_snapshots()) <= 2
    assert len(bands.live_snapshots()) <= 2
    # append-preserving: one audit row per processed url (no history
    # dropped, no duplication introduced by the rewrite)
    audit_rows = audit.read(spark)
    assert audit_rows.count() == \
        audit_rows.select("url").distinct().count()
    # ...and the band index keeps the full multi-row-per-url shape
    band_counts = (bands.read(spark).groupBy("url")
                   .agg(F.countDistinct("band_id").alias("n"))
                   .select("n").distinct().collect())
    assert [r["n"] for r in band_counts] == [4]
    # resume off the compacted audit is still a no-op
    again = run_extraction_job(spark, build_pages_df(spark, 40), out,
                               compact_after=2, neardup_index=True)
    assert again["resumed_noop"] is True


def test_append_compact_keeps_rows_reinserted_after_delete(spark, tmp_path):
    """A key deleted then re-appended must survive an append-mode
    compaction: the tombstone only erases rows OLDER than it
    (snapshot-id order), not the key forever (r3 review finding)."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(_df(spark, [("u1", "a", [1.0]), ("u2", "b", [2.0])]))
    tbl.delete_keys(spark, ["u1"])
    tbl.commit(_df(spark, [("u1", "a2", [1.5])]))  # re-insert after delete
    before = {(r["url"], r["text"]) for r in
              tbl.read(spark).filter("NOT _deleted").collect()}
    tbl.compact(spark, mode="append")
    tbl.expire_snapshots()
    after_df = tbl.read(spark)
    after = {(r["url"], r["text"]) for r in
             after_df.filter("NOT _deleted").collect()}
    assert ("u1", "a2") in after          # the re-insert survives
    assert ("u1", "a") not in after       # the deleted row is gone
    assert after == {("u1", "a2"), ("u2", "b")}
    assert before >= after                # nothing invented


def test_sorted_compaction_prunes_point_lookup_to_one_file(spark, tmp_path):
    """compact(sort=True) range-partitions by key (Iceberg rewrite with
    a sort strategy): output files hold disjoint key ranges, so the
    manifest min/max stats prune a point lookup to exactly one file —
    an unsorted compaction hash-mixes keys and every file's range spans
    the key space, pruning nothing."""
    def _load(root, sort):
        # default blooms-off matters here: the tiny 5 KB file target
        # would be dwarfed by an NDV-sized key bloom, shattering the
        # table into 1-row files whose min==max stats prune anyway
        tbl = SnapshotTable(str(tmp_path / root))
        # interleaved keys across two snapshots so pre-compaction
        # files overlap too
        tbl.commit(_df(spark, [(f"u{i:03d}", "x" * 200, [1.0])
                               for i in range(0, 200, 2)]))
        tbl.commit(_df(spark, [(f"u{i:03d}", "y" * 200, [2.0])
                               for i in range(1, 200, 2)]))
        res = tbl.compact(spark, target_file_mb=0.005, sort=sort)
        tbl.expire_snapshots()
        return tbl, res

    tbl_s, res_s = _load("sorted", sort=True)
    files_s = [e for s in tbl_s.live_snapshots()
               for e in s["files"] if e.get("rows")]
    assert len(files_s) >= 3  # the tiny target forced a real split
    pruned = tbl_s.prune_files(key_eq="u101")
    assert pruned is not None and len(pruned) == 1
    # correctness unchanged by the rewrite
    row = tbl_s.point_lookup(spark, "u101").collect()
    assert len(row) == 1 and row[0]["text"] == "y" * 200

    tbl_u, _res = _load("unsorted", sort=False)
    files_u = [e for s in tbl_u.live_snapshots()
               for e in s["files"] if e.get("rows")]
    assert len(files_u) >= 3
    # hash-mixed files: the same lookup cannot prune below all files
    assert len(tbl_u.prune_files(key_eq="u101")) == len(files_u)


def _warm_jobs(spark, group, fn):
    """Spark jobs of one warm ``fn()`` call (a first call runs first)."""
    sc = spark.sparkContext
    fn()
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("rename", [False, True])
def test_table_read_job_count(spark, tmp_path, rename):
    """Ratchet on the Spark jobs of key-scoped, changelog and current
    reads of 4 snapshots of 3 data files each: reads scan under the
    schemas the manifests recorded, so no read infers one, and a
    declared rename (every snapshot its own scan) costs no extra job —
    a point lookup runs at most 2 jobs, a read_changes 1 and a
    read_current 2, with or without the rename."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    col = "text"
    for i in range(4):
        if rename and i == 2:
            tbl.rename_column("text", "body")
            col = "body"
        tbl.commit(_df(spark, [(f"u{k:02d}", f"v{i}", [1.0])
                               for k in range(i * 5, i * 5 + 12)])
                   .withColumnRenamed("text", col)
                   .repartitionByRange(3, "url"))
    assert [len(s["files"]) for s in tbl.live_snapshots()] == [3] * 4
    group = f"test_table_read_job_count_{rename}"
    lookup = _warm_jobs(spark, f"{group}_lookup",
                        lambda: tbl.point_lookup(spark, "u11").collect())
    changes = _warm_jobs(spark, f"{group}_changes",
                         lambda: tbl.read_changes(spark, 2).collect())
    current = _warm_jobs(spark, f"{group}_current",
                         lambda: tbl.read_current(spark).collect())
    assert [tuple(r) for r in tbl.point_lookup(spark, "u11").collect()] \
        == [("u11", "v2", [1.0], 3)]
    assert tbl.read_changes(spark, 2).count() == 24
    assert tbl.read_current(spark).count() == 27
    assert lookup <= 2
    assert changes <= 1
    assert current <= 2
