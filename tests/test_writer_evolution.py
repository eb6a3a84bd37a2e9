"""SnapshotTable schema evolution: add (with default), rename, drop,
widen — declared ops recorded in _schema/evolution.json, applied per
snapshot on read (each snapshot transforms from the schema_version it
was committed under to the read's target schema: the current log head,
or the as-of snapshot's own schema for time travel, Iceberg-style).
One documented delta vs Iceberg: rename is name-mapping-based, not
field-ID-based."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from resume_parser_service_spark.pipeline.writer import SnapshotTable


def _mkdf(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows])


def test_add_column_with_default_backfills_old_snapshots(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_mkdf(spark, [{"url": "a", "score": 1}]))
    t.add_column("lang", "string", default="und")
    t.commit(_mkdf(spark, [{"url": "b", "score": 2, "lang": "en"}]))
    cur = {r["url"]: r for r in t.read_current(spark).collect()}
    assert cur["a"]["lang"] == "und"  # backfilled default
    assert cur["b"]["lang"] == "en"
    # NULL default (Iceberg read-missing-as-null)
    t.add_column("extra", "long")
    assert t.read_current(spark).filter("url = 'a'") \
        .select("extra").first()[0] is None


def test_rename_column_maps_historical_files(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_mkdf(spark, [{"url": "a", "score": 10}]))
    t.rename_column("score", "quality")
    t.commit(_mkdf(spark, [{"url": "b", "quality": 20}]))
    cur = t.read_current(spark)
    assert "quality" in cur.columns and "score" not in cur.columns
    vals = {r["url"]: r["quality"] for r in cur.collect()}
    assert vals == {"a": 10, "b": 20}
    # point lookup goes through the same mapping
    assert t.point_lookup(spark, "a").first()["quality"] == 10


def test_drop_column_projects_away_old_bytes(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_mkdf(spark, [{"url": "a", "tmp_debug": "x", "keep": 1}]))
    t.drop_column("tmp_debug")
    t.commit(_mkdf(spark, [{"url": "b", "keep": 2}]))
    cur = t.read_current(spark)
    assert "tmp_debug" not in cur.columns
    assert {r["keep"] for r in cur.collect()} == {1, 2}


def test_widen_column_casts_old_snapshots(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([("a", 1)], "url string, n int"))
    t.widen_column("n", "long")
    t.commit(spark.createDataFrame([("b", 2**40)], "url string, n long"))
    cur = t.read_current(spark)
    assert dict(cur.dtypes)["n"] == "bigint"
    assert {r["n"] for r in cur.collect()} == {1, 2**40}


def test_widen_judges_types_not_spellings(spark, tmp_path):
    """'long' and 'bigint' name one Spark type: either spelling widens
    an int column, is accepted on a column that is already bigint, and
    is refused on a string column."""
    for spelling in ("long", "bigint"):
        t = SnapshotTable(str(tmp_path / spelling))
        t.commit(spark.createDataFrame([("a", 1, 7, "x")],
                                       "url string, n int, m long, s string"))
        t.widen_column("n", spelling)
        t.widen_column("m", spelling)
        t.commit(spark.createDataFrame([("b", 2**40, 8, "y")],
                                       "url string, n long, m long, s string"))
        t.widen_column("n", spelling)
        with pytest.raises(ValueError, match="from string to bigint"):
            t.widen_column("s", spelling)
        cur = t.read_current(spark)
        assert dict(cur.dtypes)["n"] == "bigint"
        assert {r["n"] for r in cur.collect()} == {1, 2**40}


def test_undeclared_type_change_names_the_column(spark, tmp_path):
    """Two snapshots that record one column under two types, with no
    declared op between them, cannot be read together: the read raises
    and names the column."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([("a", 1)], "url string, v int"))
    t.commit(spark.createDataFrame([("b", "x")], "url string, v string"))
    with pytest.raises(ValueError, match="column 'v' is int .* string"):
        t.read(spark)
    # each snapshot alone still reads
    assert t.read_changes(spark, 1).first()["v"] == "x"


def test_undeclared_added_column_reads_null_in_older_snapshots(spark,
                                                              tmp_path):
    """A column added without a declared op reads as NULL in older
    snapshots; it is appended after the columns of the snapshots that
    lack it, and a read of the later snapshot alone keeps its order."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([("u1", 1, "x")],
                                   "url string, a int, text string"))
    t.commit(spark.createDataFrame([("u2", "B", 2, "y")],
                                   "url string, b string, a int, text string"))
    assert t.read(spark).columns == \
        ["url", "a", "text", "_snapshot_id", "_deleted", "b"]
    assert {r["url"]: r["b"] for r in t.read_current(spark).collect()} == \
        {"u1": None, "u2": "B"}
    assert t.read_changes(spark, 1).columns == \
        ["url", "b", "a", "text", "_commit_version", "_change_type"]


def test_chained_ops_apply_in_order(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_mkdf(spark, [{"url": "a", "s": 1}]))
    t.rename_column("s", "s2")
    t.commit(_mkdf(spark, [{"url": "b", "s2": 2}]))
    t.rename_column("s2", "s3")
    t.add_column("flag", "boolean", default=False)
    t.commit(_mkdf(spark, [{"url": "c", "s3": 3, "flag": True}]))
    cur = t.read_current(spark)
    assert {r["url"]: (r["s3"], r["flag"]) for r in cur.collect()} == \
        {"a": (1, False), "b": (2, False), "c": (3, True)}


def test_compaction_rewrites_under_current_schema(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_mkdf(spark, [{"url": "a", "s": 1}]))
    t.rename_column("s", "q")
    t.commit(_mkdf(spark, [{"url": "b", "q": 2}]))
    t.compact(spark)
    t.expire_snapshots()
    cur = t.read_current(spark)
    assert {r["url"]: r["q"] for r in cur.collect()} == {"a": 1, "b": 2}
    # post-compaction commits and reads keep working
    t.commit(_mkdf(spark, [{"url": "c", "q": 3}]))
    assert t.read_current(spark).count() == 3


def test_time_travel_serves_snapshot_own_schema(spark, tmp_path):
    """Iceberg semantics: each snapshot manifest records the
    schema_version it was committed under, and a time-travel read
    serves THAT schema — ops declared later (rename, add) must not
    leak backwards into the historical view."""
    t = SnapshotTable(str(tmp_path / "t"))
    v1 = t.commit(_mkdf(spark, [{"url": "a", "s": 1}]))
    t.rename_column("s", "q")
    t.add_column("lang", "string", default="und")
    v2 = t.commit(_mkdf(spark, [{"url": "b", "q": 2, "lang": "en"}]))
    old = t.read_current(spark, version=v1)
    cols = set(old.columns) - {"_snapshot_id"}
    assert cols == {"url", "s"}  # pre-rename, pre-add
    assert old.first()["s"] == 1
    # as-of v2 the rename/add are in that snapshot's schema...
    mid = t.read_current(spark, version=v2)
    assert {"q", "lang"} <= set(mid.columns) and "s" not in mid.columns
    # ...and ops declared after v2 are not: current read has them
    t.add_column("flag", "boolean", default=False)
    assert "flag" not in t.read_current(spark, version=v2).columns
    t.commit(_mkdf(spark, [{"url": "c", "q": 3, "lang": "fr",
                            "flag": True}]))
    assert "flag" in t.read_current(spark).columns


def test_rename_to_previously_dropped_name(spark, tmp_path):
    """The field-ID hazard class the name-mapping design is exposed
    to: drop column b, later rename a -> b. The op log applies in
    declaration order, so historical files' OLD physical b is
    projected away BEFORE a maps onto the name — the revived name must
    serve a's values everywhere, never the dropped column's bytes."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_mkdf(spark, [{"url": "u1", "a": 1, "b": 100}]))
    t.drop_column("b")
    t.commit(_mkdf(spark, [{"url": "u2", "a": 2}]))
    t.rename_column("a", "b")
    t.commit(_mkdf(spark, [{"url": "u3", "b": 3}]))
    cur = t.read_current(spark)
    assert set(cur.columns) - {"_snapshot_id"} == {"url", "b"}
    assert {r["url"]: r["b"] for r in cur.collect()} == \
        {"u1": 1, "u2": 2, "u3": 3}  # u1.b is a's value, not 100
    # point lookup and version history agree
    assert t.point_lookup(spark, "u1").first()["b"] == 1
    # time travel before the drop still serves the ORIGINAL b
    old = t.read_current(spark, version=1)
    assert {r["b"] for r in old.collect()} == {100}


def test_merge_upsert_diff_works_across_rename(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_mkdf(spark, [{"url": "a", "s": 1, "other": "x"}])
             .withColumn("extract_ms", F.lit(0)))
    t.rename_column("s", "q")
    stats = t.merge_upsert(
        spark,
        _mkdf(spark, [{"url": "a", "q": 1, "other": "x"},
                      {"url": "b", "q": 5, "other": "y"}])
        .withColumn("extract_ms", F.lit(1)))
    # 'a' is unchanged under the new name (extract_ms excluded), 'b' new
    assert stats["inserted"] == 1 and stats["updated"] == 0
    assert stats["unchanged"] == 1


def test_reserved_columns_are_protected(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    for call in (lambda: t.rename_column("url", "link"),
                 lambda: t.rename_column("x", "_snapshot_id"),
                 lambda: t.drop_column("url"),
                 lambda: t.drop_column("_deleted"),
                 lambda: t.widen_column("url", "binary"),
                 lambda: t.add_column("_deleted", "boolean")):
        with pytest.raises(ValueError):
            call()


def test_versions_survive_evolution(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_mkdf(spark, [{"url": "a", "s": 1}]))
    t.rename_column("s", "q")
    t.commit(_mkdf(spark, [{"url": "a", "q": 2}]))
    hist = t.read_versions(spark, key="a").orderBy("_version").collect()
    assert [(r["_version"], r["q"]) for r in hist] == [(1, 1), (2, 2)]
    assert t.version_lookup(spark, "a", 1).first()["q"] == 1


def test_invalid_evolution_ops_rejected_at_alter_time(spark, tmp_path):
    """Iceberg rejects bad ALTERs up front; an accepted bad op would
    poison the append-only log and break every read (review finding)."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_mkdf(spark, [{"url": "a", "a": 1, "b": 2}]))
    with pytest.raises(ValueError):  # rename onto an existing column
        t.rename_column("a", "b")
    with pytest.raises(ValueError):  # rename of a nonexistent column
        t.rename_column("zzz", "q")
    with pytest.raises(ValueError):  # drop of a nonexistent column
        t.drop_column("zzz")
    with pytest.raises(ValueError):  # add of an existing column
        t.add_column("a", "long")
    with pytest.raises(ValueError):  # narrowing "widen"
        t.widen_column("a", "float")
    with pytest.raises(ValueError):  # widen of a string column
        t.commit(_mkdf(spark, [{"url": "b", "a": 1, "b": 2}]))
        t.widen_column("url2" if False else "b", "double")
    # a legal chain after the rejections still works
    t.rename_column("a", "c")
    assert t.read_current(spark).filter("url='a'").first()["c"] == 1


def test_point_lookup_still_prunes_under_evolution(spark, tmp_path):
    """Manifest-stats pruning must survive declared evolution ops
    (per-snapshot pruned reads, review finding)."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_mkdf(spark, [{"url": f"a{i}", "s": i} for i in range(4)]))
    t.rename_column("s", "q")
    t.commit(_mkdf(spark, [{"url": f"z{i}", "q": 100 + i}
                           for i in range(4)]))
    groups = t._prune_by_snapshot(key_eq="z1")
    assert groups is not None
    # the first snapshot (keys a0..a3) is pruned away entirely
    assert [g[0]["id"] for g in groups] == [2]
    assert t.point_lookup(spark, "z1").first()["q"] == 101
    assert t.point_lookup(spark, "a2").first()["q"] == 2
