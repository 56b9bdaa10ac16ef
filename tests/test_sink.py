"""Sink semantics tests: K1 append, K2 equality-upsert (last-writer-wins,
DELETE removal), K3 idempotent replay (batch-id guard), atomic snapshot
visibility, per-partition lineage — the reference's FlinkSink contract
(Kafka2IcebergApp.java:86-113) re-expressed over IcebergLite.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from kafka2iceberg_spark.sink import IcebergLite, dedup_batch

PK = ["conv_id", "turn_idx"]
TS = datetime.datetime(2024, 9, 1, 12, 0, 0)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, text string, ts timestamp,"
        " offset long, partition_idx int, is_cdc_delete boolean",
    )


@pytest.fixture()
def table(tmp_path):
    t = IcebergLite(str(tmp_path / "tbl"), pk=PK)
    yield t
    t.drop()


def test_append_and_read(spark, table):
    b = _batch(spark, [("c1", 0, "hello", TS, 0, 0, False)])
    assert table.commit_append(b, "0") is True
    assert table.read(spark).count() == 1


def test_append_replay_is_noop(spark, table):
    b = _batch(spark, [("c1", 0, "hello", TS, 0, 0, False)])
    assert table.commit_append(b, "0")
    assert table.commit_append(b, "0") is False  # K3 batch-id guard
    assert table.read(spark).count() == 1


def test_upsert_last_writer_wins(spark, table):
    b1 = _batch(spark, [("c1", 0, "v1", TS, 0, 0, False)])
    table.commit_upsert(b1, "0")
    b2 = _batch(spark, [("c1", 0, "v2", TS, 1, 0, False)])
    table.commit_upsert(b2, "1")
    rows = table.read(spark).collect()
    assert len(rows) == 1 and rows[0].text == "v2"


def test_upsert_in_batch_dedup(spark, table):
    # same PK twice within one batch: higher offset wins (arrival order)
    b = _batch(
        spark,
        [("c1", 0, "old", TS, 0, 0, False), ("c1", 0, "new", TS, 5, 0, False)],
    )
    table.commit_upsert(b, "0")
    rows = table.read(spark).collect()
    assert len(rows) == 1 and rows[0].text == "new"


def test_upsert_delete_removes_key(spark, table):
    table.commit_upsert(
        _batch(spark, [("c1", 0, "v", TS, 0, 0, False), ("c1", 1, "w", TS, 1, 0, False)]),
        "0",
    )
    table.commit_upsert(_batch(spark, [("c1", 0, "v", TS, 2, 0, True)]), "1")
    rows = table.read(spark).collect()
    assert len(rows) == 1 and rows[0].turn_idx == 1


def test_upsert_replay_idempotent(spark, table):
    b = _batch(spark, [("c1", 0, "v", TS, 0, 0, False)])
    assert table.commit_upsert(b, "7")
    assert table.commit_upsert(b, "7") is False
    assert table.read(spark).count() == 1


def test_partition_pruned_rewrite(spark, table):
    # CoW MERGE must rewrite only affected date partitions: day-1 files
    # carry forward by reference when a day-2 batch commits
    d1 = _batch(spark, [("c1", 0, "a", TS, 0, 0, False)])
    table.commit_upsert(d1, "0")
    files_before = {
        f["path"]
        for f in table.resolve_manifests(table.current_snapshot())[
            "2024-09-01"
        ]
    }
    d2 = _batch(
        spark, [("c2", 0, "b", TS + datetime.timedelta(days=1), 1, 0, False)]
    )
    table.commit_upsert(d2, "1")
    snap = table.current_snapshot()
    assert set(snap["manifests"].keys()) == {"2024-09-01", "2024-09-02"}
    assert {
        f["path"] for f in table.resolve_manifests(snap)["2024-09-01"]
    } == files_before


def test_lineage_offsets(spark, table):
    b = _batch(
        spark,
        [
            ("c1", 0, "a", TS, 10, 0, False),
            ("c1", 1, "b", TS, 11, 0, False),
            ("c2", 0, "c", TS, 3, 1, False),
        ],
    )
    table.commit_upsert(b, "0")
    lin = table.lineage()
    assert len(lin) == 1
    assert lin[0]["offsets"]["0"] == [10, 11]
    assert lin[0]["offsets"]["1"] == [3, 3]
    assert lin[0]["rows"] == 3


def test_dedup_batch_offset_replay(spark):
    # duplicate (partition_idx, offset) = replayed record → dropped
    b = _batch(
        spark,
        [("c1", 0, "x", TS, 0, 0, False), ("c1", 0, "x", TS, 0, 0, False)],
    )
    assert dedup_batch(b, PK).count() == 1


def test_snapshot_chain(spark, table):
    for i in range(3):
        table.commit_append(
            _batch(spark, [(f"c{i}", 0, "t", TS, i, 0, False)]), str(i)
        )
    assert table.current_version() == 3  # v0 empty + 3 commits
    assert table.committed_batches() == {"0", "1", "2"}
    assert table.read(spark).count() == 3


def test_upsert_null_ts_partition_roundtrip(spark, table):
    """Rows with NULL ts land in the __HIVE_DEFAULT_PARTITION__ partition;
    a later upsert or delete of the same PK must find and rewrite that
    partition (ADVICE: collect()ed None never matched the directory key,
    so old and new versions of a null-ts PK both stayed visible)."""
    from kafka2iceberg_spark.sink import NULL_PARTITION

    table.commit_upsert(
        _batch(spark, [("c1", 0, "v0", None, 0, 0, False),
                       ("c2", 0, "x", TS, 1, 0, False)]),
        "0",
    )
    assert NULL_PARTITION in table.current_snapshot()["manifests"]

    # update the null-ts PK: exactly one version must survive
    table.commit_upsert(
        _batch(spark, [("c1", 0, "v1", None, 2, 0, False)]), "1"
    )
    rows = table.read(spark).where(F.col("conv_id") == "c1").collect()
    assert [(r.turn_idx, r.text) for r in rows] == [(0, "v1")]

    # delete the null-ts PK: it must actually disappear
    table.commit_upsert(
        _batch(spark, [("c1", 0, "v1", None, 3, 0, True)]), "2"
    )
    got = sorted(r.conv_id for r in table.read(spark).collect())
    assert got == ["c2"]


def test_concurrent_commit_conflict_detected(spark, table):
    """Optimistic concurrency: two writers racing to the same snapshot
    version must not silently clobber each other — exactly one wins, the
    other gets CommitConflict (os.rename would overwrite silently)."""
    from kafka2iceberg_spark.sink import CommitConflict, IcebergLite

    table.commit_append(
        _batch(spark, [("c1", 0, "a", TS, 0, 0, False)]), "0"
    )
    # a second handle on the same location, stale view of the chain
    other = IcebergLite(table.location, pk=PK)
    snap = other.current_snapshot()
    # both writers build a next-version snapshot; first one lands...
    table.commit_append(
        _batch(spark, [("c1", 1, "b", TS, 1, 0, False)]), "1"
    )
    # ...the stale writer's attempt to claim the same version must fail
    with pytest.raises(CommitConflict):
        other._write_snapshot(
            {
                "snapshot_id": "stale",
                "version": snap["version"] + 1,
                "parent": snap["snapshot_id"],
                "batch_id": "X",
                "manifests": dict(snap["manifests"]),
                "lineage": [],
            }
        )
    # the winner's commit is intact
    assert {r.text for r in table.read(spark).collect()} == {"a", "b"}
    assert "X" not in table.committed_batches()


def test_snapshot_writes_stay_inside_sink_module():
    """The snapshot record format and version allocation have one owner:
    no package module but sink.py may call ``_write_snapshot`` or
    ``_commit_meta`` (tests may, as the conflict test above does)."""
    import pathlib

    import kafka2iceberg_spark

    pkg = pathlib.Path(kafka2iceberg_spark.__file__).parent
    offenders = [
        f"{path.relative_to(pkg)}: {call}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "sink.py" or path.parent != pkg
        for call in ("._write_snapshot(", "._commit_meta(")
        if call in path.read_text()
    ]
    assert offenders == []


def test_crashed_commit_self_heals_via_forward_probe(spark, table):
    """A writer crash between the snapshot link and the hint rename must
    not wedge the table (review finding): the linked snapshot is a
    complete durable commit, so a restart adopts it — its batch id re-arms
    the replay guard and the next commit builds the NEXT version."""
    import json as _json
    import os as _os

    table.commit_append(
        _batch(spark, [("c1", 0, "a", TS, 0, 0, False)]), "0"
    )
    v = table.current_version()
    # simulate the crash: link v+1 manually, leave the hint behind
    snap = table.current_snapshot()
    orphan = {
        "snapshot_id": "orphan",
        "version": v + 1,
        "parent": snap["snapshot_id"],
        "batch_id": "99",
        "manifests": dict(snap["manifests"]),
        "lineage": [],
    }
    with open(_os.path.join(table.meta_dir, f"v{v + 1}.json"), "w") as fh:
        _json.dump(orphan, fh)

    fresh = type(table)(table.location, pk=PK)
    # the orphaned commit is visible...
    assert fresh.current_version() == v + 1
    # ...its batch id arms the replay guard (foreachBatch replay is a no-op)
    assert "99" in fresh.committed_batches()
    assert fresh.commit_append(
        _batch(spark, [("c1", 5, "x", TS, 5, 0, False)]), "99"
    ) is False
    # and a NEW batch commits on top instead of CommitConflict-ing forever
    assert fresh.commit_append(
        _batch(spark, [("c1", 1, "b", TS, 1, 0, False)]), "2"
    ) is True
    assert fresh.current_version() == v + 2


def test_crashed_create_self_heals(spark, tmp_path):
    """v0 linked but hint never written (crashed create): the table must
    come up, not raise FileNotFoundError forever."""
    import json as _json
    import os as _os

    from kafka2iceberg_spark.sink import IcebergLite

    loc = str(tmp_path / "tbl")
    _os.makedirs(_os.path.join(loc, "metadata"))
    with open(_os.path.join(loc, "metadata", "v0.json"), "w") as fh:
        _json.dump({"snapshot_id": "s0", "version": 0, "parent": None,
                    "batch_id": None, "manifests": {}, "lineage": []}, fh)
    t = IcebergLite(loc, pk=PK)
    assert t.current_version() == 0
    assert t.commit_append(
        _batch(spark, [("c1", 0, "a", TS, 0, 0, False)]), "0"
    ) is True
    assert t.read(spark).count() == 1


# ---------------------------------------------------------------------------
# manifest column stats + file-skipping scans (Iceberg stats-pruning analogue)

BASE = datetime.datetime(2024, 9, 1, 12, 0, 0)


def _stats_batch(spark, lo, hi, day=1):
    rows = [
        (f"c{i}", i, f"t{i:04d}",
         BASE.replace(day=day) + datetime.timedelta(minutes=i))
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, ts timestamp"
    )


def test_manifest_entries_carry_footer_stats(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "tbl"), pk=[])
    t.commit_append(_stats_batch(spark, 0, 10), "0")
    files = [
        f
        for fs in t.resolve_manifests(t.current_snapshot()).values()
        for f in fs
    ]
    assert files and all(f.get("rows") for f in files)
    st = files[0]["stats"]
    assert st["turn_idx"] == [0, 9]
    assert st["text"] == ["t0000", "t0009"]
    assert st["ts"][0].startswith("2024-09-01")


def test_plan_scan_skips_disjoint_files(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "tbl"), pk=[])
    for b, (lo, hi) in enumerate([(0, 10), (10, 20), (20, 30)]):
        t.commit_append(_stats_batch(spark, lo, hi), str(b))
    plan = t.plan_scan("turn_idx", 12, 14)
    assert plan["files_total"] >= 3
    assert plan["files_skipped"] >= 2  # the [0,9] and [20,29] files

    got = sorted(
        r.turn_idx for r in t.scan_range(spark, "turn_idx", 12, 14).collect()
    )
    want = sorted(
        r.turn_idx
        for r in t.read(spark)
        .where("turn_idx between 12 and 14")
        .collect()
    )
    assert got == want == [12, 13, 14]
    # open-ended bounds
    assert t.scan_range(spark, "turn_idx", lo=25).count() == 5
    assert t.plan_scan("turn_idx", lo=25)["files_skipped"] >= 2


def test_plan_scan_timestamp_bounds_and_unknown_column(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "tbl"), pk=[], partition_field="ts")
    t.commit_append(_stats_batch(spark, 0, 5, day=1), "0")
    t.commit_append(_stats_batch(spark, 5, 10, day=2), "1")
    lo = BASE.replace(day=2)
    plan = t.plan_scan("ts", lo=lo)
    assert plan["files_skipped"] >= 1  # day-1 file cannot match
    assert t.scan_range(spark, "ts", lo=lo).count() == 5
    # a column with no stats anywhere is never pruned on
    assert t.plan_scan("nonexistent", 0, 1)["files_skipped"] == 0


def test_stats_survive_compaction(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "tbl"), pk=[], partition_field="ts")
    t.commit_append(_stats_batch(spark, 0, 5, day=1), "0")
    t.commit_append(_stats_batch(spark, 5, 10, day=1), "1")
    t.commit_append(_stats_batch(spark, 10, 15, day=2), "2")
    assert t.compact(spark) >= 1
    files = [
        f
        for fs in t.resolve_manifests(t.current_snapshot()).values()
        for f in fs
    ]
    assert all("stats" in f for f in files)
    # day-2 file still skipped for a day-1-only predicate
    plan = t.plan_scan("turn_idx", 0, 4)
    assert plan["files_skipped"] >= 1
    assert t.scan_range(spark, "turn_idx", 0, 4).count() == 5


def test_sorted_compaction_makes_pruning_effective(spark, tmp_path):
    """SORT-strategy compaction: range-partitioned rewrite gives files
    DISJOINT key ranges, so a key predicate prunes most of the partition
    (bin-pack compaction into one file can never skip within it)."""
    t = IcebergLite(str(tmp_path / "tbl"), pk=[])
    # interleaved batches: every file initially spans ~the full key range
    import random

    rng = random.Random(7)
    ids = list(range(400))
    rng.shuffle(ids)
    for b in range(4):
        chunk = ids[b * 100:(b + 1) * 100]
        rows = [
            (f"c{i}", i, f"t{i}", BASE + datetime.timedelta(minutes=i % 60))
            for i in chunk
        ]
        t.commit_append(
            spark.createDataFrame(
                rows,
                "conv_id string, turn_idx int, text string, ts timestamp",
            ),
            str(b),
        )
    before = t.plan_scan("turn_idx", 10, 20)
    assert before["files_skipped"] == 0  # interleaved: nothing prunable

    assert t.compact(spark, sort_by=["turn_idx"], target_files=3) == 1
    after = t.plan_scan("turn_idx", 10, 20)
    assert after["files_total"] == 3
    assert after["files_skipped"] >= 2  # disjoint ranges now prune
    got = sorted(
        r.turn_idx
        for r in t.scan_range(spark, "turn_idx", 10, 20).collect()
    )
    assert got == list(range(10, 21))
    assert t.read(spark).count() == 400  # rewrite lost nothing


def test_plan_scan_ltz_timestamp_hi_bound_boundary(spark, tmp_path):
    """Review regression (silent data loss): TIMESTAMP (LTZ) stats come
    back tz-aware from the parquet footer while bounds are naive — the
    file whose min EQUALS the hi bound must not be pruned."""
    t = IcebergLite(str(tmp_path / "tbl"), pk=[])
    rows = [("c", 1, "x", BASE.replace(day=2, hour=0, minute=0, second=0))]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, ts timestamp"
    )
    # ts is TIMESTAMP (with local tz) here — the hazardous type
    t.commit_append(df, "0")
    hi = datetime.datetime(2024, 9, 2, 0, 0, 0)
    assert t.plan_scan("ts", hi=hi)["files_skipped"] == 0
    assert t.scan_range(spark, "ts", hi=hi).count() == 1
    assert t.scan_range(spark, "ts", lo=hi).count() == 1  # lo boundary too
    # and a DATE-typed bound against the timestamp column (midnight cast)
    assert t.scan_range(spark, "ts", hi=datetime.date(2024, 9, 2)).count() == 1


def test_sorted_compaction_reaches_fixed_point(spark, tmp_path):
    """Review regression: a partition already rewritten into target_files
    sorted files must not re-trigger on the next maintenance tick."""
    t = IcebergLite(str(tmp_path / "tbl"), pk=[])
    for b in range(3):
        t.commit_append(_stats_batch(spark, b * 10, b * 10 + 10), str(b))
    assert t.compact(spark, sort_by=["turn_idx"], target_files=2) == 1
    v = t.current_version()
    assert t.compact(spark, sort_by=["turn_idx"], target_files=2) == 0
    assert t.current_version() == v  # no pointless snapshot
    # new appends push the partition above target_files -> rewrite again
    t.commit_append(_stats_batch(spark, 30, 40), "3")
    assert t.compact(spark, sort_by=["turn_idx"], target_files=2) == 1


def test_commit_restores_parquet_timestamp_conf(spark, tmp_path):
    """Review regression: the sink's INT64-micros setting is scoped to its
    own writes — the embedding application's session config survives."""
    key = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(key, "INT96")
    try:
        t = IcebergLite(str(tmp_path / "tbl"), pk=[])
        t.commit_append(_stats_batch(spark, 0, 5), "0")
        assert spark.conf.get(key) == "INT96"
        t.commit_append(_stats_batch(spark, 5, 10), "1")
        t.compact(spark)
        assert spark.conf.get(key) == "INT96"
        # the sink's own files still carried stats despite the INT96 session
        files = [
            f
            for fs in t.resolve_manifests(t.current_snapshot()).values()
            for f in fs
        ]
        assert any("ts" in (f.get("stats") or {}) for f in files)
    finally:
        spark.conf.unset(key)
