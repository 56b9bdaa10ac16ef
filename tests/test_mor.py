"""Merge-on-read upserts: equality-delete files, sequence-scoped
reconciliation, materialization. Iceberg v2 row-level-delete semantics
(reference parity surface: same committed rows as the CoW MERGE path —
Kafka2IcebergApp.java:95-113's upsert sink — for the same input stream)."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from kafka2iceberg_spark import gen, pipeline
from kafka2iceberg_spark.schema import transcript_task
from kafka2iceberg_spark.sink import IcebergLite

BASE = datetime.datetime(2024, 9, 1, 12, 0, 0)


def _batch(spark, rows):
    """rows: (conv_id, turn_idx, text, day_offset, is_delete)"""
    return spark.createDataFrame(
        [
            (c, i, t, BASE + datetime.timedelta(days=d), off, 0, bool(x))
            for off, (c, i, t, d, x) in enumerate(rows)
        ],
        "conv_id string, turn_idx int, text string, ts timestamp, "
        "offset long, partition_idx int, is_cdc_delete boolean",
    )


def test_mor_upsert_delete_latest_wins(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "t"), pk=["conv_id", "turn_idx"])
    t.commit_upsert(
        _batch(spark, [("a", 0, "v1", 0, 0), ("a", 1, "x", 0, 0),
                       ("b", 0, "y", 1, 0)]),
        "0", strategy="mor",
    )
    t.commit_upsert(
        _batch(spark, [("a", 0, "v2", 0, 0),  # replace
                       ("a", 1, "", 0, 1),    # cdc delete
                       ("c", 0, "z", 2, 0)]),
        "1", strategy="mor",
    )
    got = {(r.conv_id, r.turn_idx): r.text for r in t.read(spark).collect()}
    assert got == {("a", 0): "v2", ("b", 0): "y", ("c", 0): "z"}
    # re-insert after delete comes back
    t.commit_upsert(_batch(spark, [("a", 1, "back", 0, 0)]), "2",
                    strategy="mor")
    got = {(r.conv_id, r.turn_idx): r.text for r in t.read(spark).collect()}
    assert got[("a", 1)] == "back" and len(got) == 4
    # replay guard
    assert t.commit_upsert(
        _batch(spark, [("a", 1, "dup", 0, 0)]), "2", strategy="mor"
    ) is False
    assert {r.text for r in t.read(spark).collect() if r.turn_idx == 1} == {
        "back"
    }


def test_mor_commit_does_not_read_existing_partitions(spark, tmp_path):
    """The whole point at 100 TB: a MOR commit's physical writes are
    O(batch) — prior data files are untouched (same inode), no partition
    rewritten."""
    import os

    t = IcebergLite(str(tmp_path / "t"), pk=["conv_id", "turn_idx"])
    t.commit_upsert(
        _batch(spark, [("a", i, f"v{i}", i % 3, 0) for i in range(30)]),
        "0", strategy="mor",
    )
    before = {
        f["path"]: os.stat(f["path"]).st_mtime_ns
        for files in t.resolve_manifests(t.current_snapshot()).values()
        for f in files
    }
    t.commit_upsert(
        _batch(spark, [("a", 0, "upd", 0, 0)]), "1", strategy="mor"
    )
    for p, mtime in before.items():
        assert os.stat(p).st_mtime_ns == mtime  # old files untouched
    # and the old files are all still referenced (no rewrite happened)
    after = {
        f["path"]
        for files in t.resolve_manifests(t.current_snapshot()).values()
        for f in files
    }
    assert set(before) <= after


def test_mor_cow_parity_full_stream(spark, tmp_path):
    """Same generated CDC stream through the CoW sink and the MOR sink →
    byte-identical table contents (the reference-parity invariant holds
    regardless of commit strategy)."""
    work = str(tmp_path)
    gen.write_stream_files(
        gen.GenConfig(n_convs=15, turns_per_conv=8, seed=7),
        f"{work}/broker", files=5,
    )
    spec = transcript_task()
    cow = IcebergLite(f"{work}/cow", pk=spec.primary_keys)
    mor = IcebergLite(f"{work}/mor", pk=spec.primary_keys)
    pipeline.run_ingest_once(spark, f"{work}/broker", spec, cow,
                             f"{work}/ck_cow")
    pipeline.run_ingest_once(spark, f"{work}/broker", spec, mor,
                             f"{work}/ck_mor", strategy="mor")
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    a = sorted(map(tuple, cow.read(spark).select(cols).collect()))
    b = sorted(map(tuple, mor.read(spark).select(cols).collect()))
    assert a == b and len(a) > 0
    # materialize folds deletes in without changing the answer
    mor.materialize_deletes(spark)
    assert not (mor.current_snapshot().get("delete_manifests") or [])
    b2 = sorted(map(tuple, mor.read(spark).select(cols).collect()))
    assert b2 == a


def test_mor_materialize_rewrites_only_affected_partitions(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "t"), pk=["conv_id", "turn_idx"])
    # day 0 and day 1 partitions; updates touch only day 0 PKs
    t.commit_upsert(
        _batch(spark, [("a", 0, "v1", 0, 0), ("b", 0, "w1", 1, 0)]),
        "0", strategy="mor",
    )
    t.commit_upsert(
        _batch(spark, [("a", 0, "v2", 0, 0)]), "1", strategy="mor"
    )
    before = t.resolve_manifests(t.current_snapshot())
    day1_files = {f["path"] for f in before["2024-09-02"]}
    n = t.materialize_deletes(spark)
    assert n == 1  # only the day-0 partition held a superseded row
    after = t.resolve_manifests(t.current_snapshot())
    assert {f["path"] for f in after["2024-09-02"]} == day1_files
    got = {(r.conv_id, r.turn_idx): r.text for r in t.read(spark).collect()}
    assert got == {("a", 0): "v2", ("b", 0): "w1"}
    # idempotent: nothing outstanding → no-op, no new partitions rewritten
    assert t.materialize_deletes(spark) == 0


def test_mor_compaction_applies_deletes_and_keeps_answer(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "t"), pk=["conv_id", "turn_idx"])
    for b in range(4):
        t.commit_upsert(
            _batch(spark, [("a", i, f"b{b}t{i}", 0, 0) for i in range(5)]),
            str(b), strategy="mor",
        )
    expect = {(r.conv_id, r.turn_idx): r.text
              for r in t.read(spark).collect()}
    assert all(v.startswith("b3") for v in expect.values())
    assert t.compact(spark, min_files_per_partition=2) >= 1
    got = {(r.conv_id, r.turn_idx): r.text for r in t.read(spark).collect()}
    assert got == expect
    # the compacted partition physically holds ONLY the surviving rows
    snap = t.current_snapshot()
    rows_on_disk = sum(
        f["rows"] for files in t.resolve_manifests(snap).values()
        for f in files
    )
    assert rows_on_disk == len(expect)


def test_mor_time_travel_and_expiration_keep_delete_files(spark, tmp_path):
    t = IcebergLite(str(tmp_path / "t"), pk=["conv_id", "turn_idx"])
    t.commit_upsert(_batch(spark, [("a", 0, "v1", 0, 0)]), "0",
                    strategy="mor")
    v1 = t.current_version()
    t.commit_upsert(_batch(spark, [("a", 0, "v2", 0, 0)]), "1",
                    strategy="mor")
    assert [r.text for r in t.read(spark, version=v1).collect()] == ["v1"]
    assert [r.text for r in t.read(spark).collect()] == ["v2"]
    # expiration must not orphan-delete the still-referenced delete files
    t.expire_snapshots(keep_last=1)
    assert [r.text for r in t.read(spark).collect()] == ["v2"]


def test_mor_streaming_sink_with_maintenance(spark, tmp_path):
    """End-to-end MOR streaming sink with the maintenance tick: deletes are
    materialized + compacted inside the foreachBatch loop, replay stays
    idempotent across a fresh-checkpoint rerun."""
    work = str(tmp_path)
    gen.write_stream_files(
        gen.GenConfig(n_convs=12, turns_per_conv=6, seed=3),
        f"{work}/broker", files=4,
    )
    spec = transcript_task()
    t = IcebergLite(f"{work}/t", pk=spec.primary_keys)
    raw = pipeline.file_broker_stream(spark, f"{work}/broker",
                                      max_files_per_trigger=1)
    q = pipeline.start_upsert_sink(
        pipeline.parsed_stream(raw, spec), t, f"{work}/ck",
        trigger={"availableNow": True}, strategy="mor",
        maintenance_every=2, keep_snapshots=50,
    )
    q.awaitTermination()
    first = sorted(
        map(tuple, t.read(spark).select("conv_id", "turn_idx", "text")
            .collect())
    )
    v = t.current_version()
    # full replay from a fresh checkpoint: all batches are no-ops
    raw2 = pipeline.file_broker_stream(spark, f"{work}/broker",
                                       max_files_per_trigger=1)
    q2 = pipeline.start_upsert_sink(
        pipeline.parsed_stream(raw2, spec), t, f"{work}/ck2",
        trigger={"availableNow": True}, strategy="mor",
    )
    q2.awaitTermination()
    assert t.current_version() == v
    again = sorted(
        map(tuple, t.read(spark).select("conv_id", "turn_idx", "text")
            .collect())
    )
    assert again == first


def test_upsert_strategy_validated_before_replay_guard(spark, tmp_path):
    """A bad ``strategy`` raises even for an already-committed batch id —
    the replay guard must not turn a caller's typo into a silent False."""
    t = IcebergLite(str(tmp_path / "t"), pk=["conv_id", "turn_idx"])
    t.commit_upsert(_batch(spark, [("a", 0, "v1", 0, 0)]), "0")
    v = t.current_version()
    with pytest.raises(ValueError, match="unknown upsert strategy"):
        t.commit_upsert(_batch(spark, [("a", 0, "v1", 0, 0)]), "0",
                        strategy="mro")
    assert t.current_version() == v


def test_upsert_invalid_strategy_leaves_fresh_table_uncreated(
    spark, tmp_path
):
    """Validation runs before ``create()``: a rejected commit on a fresh
    table writes no v0 snapshot (nor any directory)."""
    no_pk = IcebergLite(str(tmp_path / "no_pk"), pk=[])
    with pytest.raises(ValueError, match="no pk"):
        no_pk.commit_upsert(_batch(spark, [("a", 0, "v1", 0, 0)]), "0",
                            strategy="mor")
    assert no_pk.current_version() is None
    typo = IcebergLite(str(tmp_path / "typo"), pk=["conv_id", "turn_idx"])
    with pytest.raises(ValueError, match="unknown upsert strategy"):
        typo.commit_upsert(_batch(spark, [("a", 0, "v1", 0, 0)]), "0",
                           strategy="merge")
    assert typo.current_version() is None
    assert not os.path.exists(no_pk.location)
    assert not os.path.exists(typo.location)
