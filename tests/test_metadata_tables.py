"""Metadata-table inspection surface (Iceberg $snapshots/$files/... parity).

``files`` — the only table whose size scales with data — must be read by
executors (spark.read over manifest JSON), not collected on the driver.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from kafka2iceberg_spark.sink import IcebergLite

PK = ["conv_id", "turn_idx"]
D1 = datetime.datetime(2024, 9, 1, 5, 0, 0)
D2 = datetime.datetime(2024, 9, 2, 17, 30, 0)
D3 = datetime.datetime(2024, 9, 3, 8, 0, 0)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, text string, ts timestamp,"
        " offset long, partition_idx int, is_cdc_delete boolean",
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "tbl"), pk=PK)
    t.commit_append(
        _batch(
            spark,
            [("c1", 0, "a", D1, 0, 0, False), ("c2", 0, "b", D2, 1, 0, False)],
        ),
        "0",
    )
    t.commit_upsert(_batch(spark, [("c1", 0, "a2", D1, 2, 0, False)]), "1")
    yield t
    t.drop()


#: version -> (commit_kind, batch_id, parent_version, delete manifests vs
#: the parent's: "carry", "add" one, or "clear"), for ``every_kind``.
#: Compaction and materialize snapshots have no commit_kind; they name
#: their rewritten partitions under their own key instead.
EVERY_KIND = {
    1: ("append", "0", 0, "carry"),
    2: ("upsert-cow", "1", 1, "carry"),
    3: ("upsert-mor", "2", 2, "add"),
    4: ("overwrite-dynamic", "3", 3, "carry"),
    5: ("delete", "d", 4, "carry"),
    6: ("update", "u", 5, "carry"),
    7: ("build-blooms", None, 6, "carry"),
    8: ("create-branch:audit", None, 7, "carry"),
    # a refs-only snapshot does not move main: the next commit parents on v7
    9: ("append", "4", 7, "carry"),
    10: ("compaction", None, 9, "carry"),
    11: ("upsert-mor", "5", 10, "add"),
    12: ("materialize", None, 11, "clear"),
    13: ("evolve-spec", None, 12, "carry"),
    14: ("upsert-mor", "6", 13, "add"),
    15: ("overwrite", "7", 14, "clear"),
}


@pytest.fixture()
def every_kind(spark, table):
    """``table`` after one commit of every other kind (see EVERY_KIND)."""
    t = table
    t.commit_upsert(
        _batch(spark, [("c2", 0, "b2", D2, 3, 0, False)]), "2", strategy="mor"
    )
    t.commit_overwrite(_batch(spark, [("c3", 0, "c", D3, 4, 0, False)]), "3")
    t.delete_range(spark, "ts", hi=D1, batch_id="d")
    t.update_range(spark, "ts", {"text": "u"}, lo=D3, batch_id="u")
    t.build_blooms(spark, ["conv_id"])
    t.create_branch("audit")
    t.commit_append(_batch(spark, [("c4", 0, "d", D2, 5, 0, False)]), "4")
    assert t.compact(spark, min_files_per_partition=2) == 1
    t.commit_upsert(
        _batch(spark, [("c4", 0, "d2", D2, 6, 0, False)]), "5", strategy="mor"
    )
    assert t.materialize_deletes(spark) == 1
    t.evolve_partition_spec(["month(ts)"])
    t.commit_upsert(
        _batch(spark, [("c3", 0, "c2", D3, 7, 0, False)]), "6", strategy="mor"
    )
    t.commit_overwrite(
        _batch(spark, [("c5", 0, "e", D3, 8, 0, False)]), "7", dynamic=False
    )
    return t


def test_snapshots_table(spark, every_kind):
    table = every_kind
    snaps = table.meta_table(spark, "snapshots").orderBy("version").collect()
    assert [s["version"] for s in snaps] == list(range(16))
    # parent chain is consistent
    assert snaps[2]["parent_id"] == snaps[1]["snapshot_id"]
    record = {
        "snapshot_id", "version", "parent", "parent_version", "ref", "refs",
        "batch_id", "schema", "manifests", "delete_manifests", "lineage",
    }
    for v, (kind, batch_id, parent_v, deletes) in EVERY_KIND.items():
        snap, parent = table.snapshot_at(v), table.snapshot_at(parent_v)
        assert record <= set(snap), v
        if kind in ("compaction", "materialize"):
            assert "commit_kind" not in snap, v
            assert snap[kind] == ["2024-09-02"], v
        else:
            assert snap["commit_kind"] == kind, v
        assert snaps[v]["commit_kind"] == snap.get("commit_kind")
        assert snaps[v]["batch_id"] == snap["batch_id"] == batch_id, v
        assert snap["parent_version"] == parent_v, v
        assert snap["parent"] == parent["snapshot_id"], v
        assert snap["ref"] == ("_meta" if v == 8 else "main"), v
        before = parent.get("delete_manifests", [])  # v0 has none
        after = snap["delete_manifests"]
        if deletes == "carry":
            assert after == before, v
        elif deletes == "add":
            assert after[:-1] == before and len(after) == len(before) + 1, v
        else:
            assert after == [], v
        assert snaps[v]["delete_manifests"] == len(after)
    assert table.snapshot_at(13)["default_spec_id"] == 1


def test_history_marks_current_ancestors(spark, table):
    hist = {
        r["version"]: r["is_current_ancestor"]
        for r in table.meta_table(spark, "history").collect()
    }
    assert hist == {0: True, 1: True, 2: True}


def test_partitions_table(spark, table):
    parts = {
        r["partition"]: (r["file_count"], r["row_count"])
        for r in table.meta_table(spark, "partitions").collect()
    }
    assert set(parts) == {"2024-09-01", "2024-09-02"}
    assert parts["2024-09-01"][1] == 1  # one live row after the upsert
    assert all(fc >= 1 for fc, _ in parts.values())


def test_files_table_matches_manifests(spark, table):
    files = table.meta_table(spark, "files")
    # executor-side read: the plan is a real scan, not a LocalTableScan
    plan = files._jdf.queryExecution().executedPlan().toString()
    assert "Scan json" in plan
    rows = files.collect()
    snap = table.current_snapshot()
    live = {
        f["path"]
        for fs in table.resolve_manifests(snap).values()
        for f in fs
    }
    assert {r["path"] for r in rows} == live
    assert sum(r["rows"] for r in rows) == table.read(spark).count()
    assert {r["partition"] for r in rows} == {"2024-09-01", "2024-09-02"}


def test_files_table_time_travel(spark, table):
    from kafka2iceberg_spark.metadata_tables import files_table

    v1 = files_table(table, spark, version=1).count()
    v2 = files_table(table, spark, version=2).count()
    assert v1 >= 1 and v2 >= 1
    snap1 = table.snapshot_at(1)
    assert v1 == sum(
        len(fs) for fs in table.resolve_manifests(snap1).values()
    )


def test_manifests_table_and_unknown_name(spark, table):
    m = table.meta_table(spark, "manifests").collect()
    assert {r["partition"] for r in m} == {"2024-09-01", "2024-09-02"}
    with pytest.raises(ValueError):
        table.meta_table(spark, "nope")


def test_snapshot_diffs_tracks_added_and_rewritten_files(spark, table):
    # v1 = append (2 rows, fresh files), v2 = CoW upsert of c1 (rewrites
    # the c1-bearing partition file: some files added, some removed)
    diffs = {
        r["version"]: r
        for r in table.meta_table(spark, "snapshot_diffs").collect()
    }
    assert set(diffs) == {1, 2}
    assert diffs[1]["parent_version"] == 0
    assert diffs[1]["files_added"] >= 1
    assert diffs[1]["files_removed"] == 0
    assert diffs[1]["rows_added"] == 2
    # the upsert rewrote at least one file and the live row count is
    # conserved: rows_added - rows_removed == 0 net for an update
    d2 = diffs[2]
    assert d2["files_added"] >= 1 and d2["files_removed"] >= 1
    assert d2["rows_added"] - d2["rows_removed"] == 0


def test_snapshot_diffs_empty_for_fresh_table(spark, tmp_path):
    from kafka2iceberg_spark.metadata_tables import snapshot_diffs

    t = IcebergLite(str(tmp_path / "t2"), pk=PK)
    t.create()
    assert snapshot_diffs(t, spark).count() == 0
    t.drop()


def test_snapshot_row_diff_classifies(spark, tmp_path):
    """added / removed / changed (NULL-safe struct compare); unchanged
    rows are not emitted."""
    from kafka2iceberg_spark.metadata_tables import snapshot_row_diff
    from kafka2iceberg_spark.sink import IcebergLite

    t = IcebergLite(str(tmp_path / "t"), pk=["k"], partition_field=None)
    t.commit_upsert(
        spark.createDataFrame(
            [(1, "a", False), (2, None, False), (3, "c", False),
             (4, "d", False)],
            "k int, v string, is_cdc_delete boolean",
        ),
        "0",
    )
    v0 = t.current_version()
    t.commit_upsert(
        spark.createDataFrame(
            # 1 unchanged, 2 NULL→value (changed), 3 deleted, 5 added
            [(1, "a", False), (2, "b", False), (3, None, True),
             (5, "e", False)],
            "k int, v string, is_cdc_delete boolean",
        ),
        "1",
    )
    v1 = t.current_version()
    got = {
        r["k"]: r["change"]
        for r in snapshot_row_diff(t, spark, v0, v1).collect()
    }
    assert got == {2: "changed", 3: "removed", 5: "added"}
