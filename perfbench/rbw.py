"""``read_beside_write``: one closed-loop client on a merge-on-read table.

The table starts as the ``backlog_drain`` backlog upserted in one
copy-on-write commit. The client then commits merge-on-read upsert batches
(updates and deletes of existing turns, plus a new conversation) with
``commit_upsert(strategy="mor")``, runs the CLI's maintenance tick every
two batches (``materialize_deletes``, ``compact``, ``expire_snapshots``)
and after each commit runs a fixed read mix ``READ_ROUNDS`` times: a full
count, ``scan_range`` over one day, ``scan_point`` by conversation, time
travel to an older version and ``read_appends_between``. Every read is
checked by count against the client's own model of the table.

Read latency is bimodal twice over: the kinds differ by up to 3x, and a
full read or pruned scan takes about 3x longer while a commit's delete
files are outstanding than right after the maintenance tick. A quantile
over the pooled reads would fall between those clusters and move with
whichever ran slowest in that run. ``latency_*`` is instead each group's
own quantile, a group being one read kind in one maintenance phase,
averaged over the ten groups: the latency of the mix, which every group
moves.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka2iceberg_spark import ingest

import live
from backlog import backlog, oracle, table_rows
from common import (
    SPEC,
    Checks,
    TimedTable,
    log,
    median,
    nproc,
    quantile,
    set_up,
    spark_ui_metrics,
)

#: rows per merge-on-read commit and the maintenance cadence
RW_UPDATES, RW_DELETES, RW_INSERTS = 1000, 100, 200
MAINTENANCE_EVERY = 2
#: maintenance cycles a run takes at least; traced runs take one, to
#: leave time for the live segment
MIN_CYCLES = {False: 2, True: 1}
#: read mixes after each commit: at least 100 reads a run, 10 per group
READ_ROUNDS = 5
KEEP_SNAPSHOTS = 50  # the CLI's maintenance.keep-snapshots default
READS = ("read_full", "scan_range", "scan_point", "time_travel",
         "incremental")
#: per-layer metrics a traced run reports; the rest of ``per_layer`` in
#: BENCHMARK.json belongs to the other workload and reads 0 here
LAYER_METRICS = (
    "pipeline.trigger_p50_ms", "pipeline.add_batch_p50_ms",
    "pipeline.planning_p50_ms", "pipeline.wal_p50_ms",
    "pipeline.latest_offset_p50_ms", "pipeline.batches",
    "pipeline.backlog_files_max", "pipeline.live_first_trigger_s",
    "sink.commit_upsert_p50_s", "sink.commit_upsert_max_s",
    "sink.commit_append_p50_s", "sink.files_written", "sink.bytes_written",
    "sink.write_amp", "sink.rw_turns_per_s",
    *(f"sink.{name}_p50_s" for name in READS),
    "sink.files_skipped_frac", "sink.delete_files_live",
    "sink.data_files_live", "sink.materialize_deletes_s", "sink.compact_s",
    "sink.expire_snapshots_s",
    *(f"{layer}.{name}" for layer in ("windows", "state")
      for name in ("state_rows", "state_bytes", "state_commit_p50_ms",
                   "updates_p50_ms", "rows_dropped_late")),
    "windows.session_lag_p50_s", "windows.session_lag_p99_s",
    "state.pair_lag_p50_s", "state.pair_lag_p99_s",
    "shuffle.write_bytes", "shuffle.task_skew", "jvm.gc_s",
    "gen.late_s_max", "trace.sink_self_s",
)


class MorClient:
    """Seeded merge-on-read writer plus its Python model of the table
    (key -> role, text, ts) and of the row count at recent versions."""

    def __init__(self, spark, tbl, seed: int) -> None:
        self.spark = spark
        self.tbl = tbl
        self.rng = random.Random(seed * 7919 + 3)
        self.state = {
            (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["ts"])
            for r in tbl.read(spark)
            .select("conv_id", "turn_idx", "role", "text", "ts")
            .collect()
        }
        self.schema = T.StructType(
            [
                *tbl.table_schema(tbl.current_snapshot()).fields,
                T.StructField("is_cdc_delete", T.BooleanType()),
            ]
        )
        self.cols = [f.name for f in self.schema.fields]
        self.counts = {tbl.current_version(): len(self.state)}
        self.days = sorted({v[2].date() for v in self.state.values()})
        self.k = 0

    def batch(self):
        """One upsert batch: updates and deletes of existing keys (kept in
        their day partition) plus a new conversation's turns."""
        self.k += 1
        keys = self.rng.sample(sorted(self.state), RW_UPDATES + RW_DELETES)
        rows = []
        for i, key in enumerate(keys):
            role, text, ts = self.state[key]
            delete = i >= RW_UPDATES
            rows.append((key, role, f"{text} ~v{self.k}", ts, delete))
        day = self.days[self.k % len(self.days)]
        base = dt.datetime.combine(day, dt.time(12))
        for j in range(RW_INSERTS):
            rows.append(
                ((f"rw{self.k:05d}", j), "user" if j % 2 == 0 else "assistant",
                 f"[rw{self.k}#{j}]", base + dt.timedelta(seconds=j), False)
            )
        data = []
        for j, ((conv, idx), role, text, ts, delete) in enumerate(rows):
            rec = {
                "conv_id": conv, "turn_idx": idx, "role": role,
                "text": text, "tool": None, "ts": ts,
                "offset": self.k * 100_000 + j, "partition_idx": 0,
                "is_cdc_delete": delete,
            }
            data.append(tuple(rec.get(c) for c in self.cols))
        for (key, role, text, ts, delete) in rows:
            if delete:
                self.state.pop(key, None)
            else:
                self.state[key] = (role, text, ts)
        return (
            self.spark.createDataFrame(data, self.schema),
            len(rows),
            len(rows) - RW_DELETES,
        )


def _day_bounds(day):
    lo = dt.datetime.combine(day, dt.time(0))
    return lo, lo + dt.timedelta(days=1) - dt.timedelta(microseconds=1)


def mix_quantile(reads: dict, q: float, kinds=READS) -> float:
    """Each (read kind, maintenance phase) group's own quantile, averaged
    over the groups of ``kinds``."""
    groups = [v for (kind, _phase), v in reads.items() if kind in kinds]
    return sum(quantile(v, q) for v in groups) / len(groups)


def _read_mix(spark, tbl, client: MorClient, v_prev: int, v_cur: int,
              appended: int, phase: int, checks: Checks, reads: dict,
              skipped: list) -> None:
    """The fixed read mix; each read is timed into ``reads[(kind, phase)]``
    and checked by count against the client's model. Traced runs also
    record the files the two pruned scans skipped."""
    tr = tbl.tracer
    conv = client.rng.choice(sorted({k[0] for k in client.state}))
    lo, hi = _day_bounds(client.rng.choice(client.days))
    old = min(v for v in client.counts if v >= v_cur - 10)
    in_day = sum(1 for v in client.state.values() if lo <= v[2] <= hi)
    in_conv = sum(1 for k in client.state if k[0] == conv)
    mix = [
        ("read_full", lambda: tbl.read(spark).count(), len(client.state)),
        ("scan_range",
         lambda: tbl.scan_range(spark, "ts", lo, hi).count(), in_day),
        ("scan_point",
         lambda: tbl.scan_point(spark, "conv_id", conv).count(), in_conv),
        ("time_travel",
         lambda: tbl.read(spark, version=old).count(), client.counts[old]),
        ("incremental",
         lambda: tbl.read_appends_between(spark, v_prev, v_cur).count(),
         appended),
    ]
    for name, fn, want in mix:
        with tr.span(f"sink.{name}"):
            t0 = time.time()
            got = fn()
            reads.setdefault((name, phase), []).append(time.time() - t0)
        checks.check(got == want, f"{name}: {got} != {want}")
    if tr.enabled:
        for plan in (tbl.plan_scan("ts", lo, hi),
                     tbl.plan_scan_eq("conv_id", conv)):
            n_skipped = plan.get("files_skipped", 0) + plan.get(
                "files_skipped_stats", 0
            ) + plan.get("files_skipped_bloom", 0)
            skipped.append((n_skipped, plan["files_total"]))


def run(seed: int, seconds: float, work: str, tracer, trace: bool) -> dict:
    broker, envs = backlog(seed, work)
    expected = oracle(envs)
    log("inputs written")
    spark, setup_s = set_up(work, nproc(), tracer)
    checks = Checks()
    layers: dict = {}
    if trace:
        layers.update(live.segment(spark, seed, os.path.join(work, "live"),
                                   tracer, checks))
    tbl = TimedTable(os.path.join(work, "tbl"), pk=SPEC.primary_keys,
                     tracer=tracer, track_files=trace)
    tbl.commit_upsert(ingest.parse(spark.read.text(broker), SPEC), "backlog")
    checks.check(
        table_rows(tbl.read(spark))
        == sorted((c, t, x) for (c, t), x in expected.items()),
        "backlog upsert != last-writer-wins oracle",
    )
    client = MorClient(spark, tbl, seed)
    log("table seeded")

    reads: dict[tuple, list] = {}
    skipped: list[tuple] = []
    rw_rows = 0
    n_batches = 0
    t_rw = time.time()
    # whole maintenance cycles only, so every run reads tables carrying
    # the same mix of outstanding delete files
    while (n_batches < MIN_CYCLES[trace] * MAINTENANCE_EVERY
           or n_batches % MAINTENANCE_EVERY
           or (not trace and time.time() - t_rw < seconds)):
        df, n_rows, n_appended = client.batch()
        v_prev = tbl.current_version()
        tbl.commit_upsert(df, f"rw-{client.k}", strategy="mor")
        v_cur = tbl.current_version()
        client.counts[v_cur] = len(client.state)
        rw_rows += n_rows
        n_batches += 1
        if n_batches % MAINTENANCE_EVERY == 0:
            tbl.materialize_deletes(spark)
            tbl.compact(spark)
            tbl.expire_snapshots(keep_last=KEEP_SNAPSHOTS)
            for v in list(client.counts):
                if v < v_cur - 10:
                    client.counts.pop(v)
            client.counts[tbl.current_version()] = len(client.state)
        # 0: right after the maintenance tick; else that many commits'
        # delete files outstanding
        phase = n_batches % MAINTENANCE_EVERY
        for _ in range(READ_ROUNDS):
            _read_mix(spark, tbl, client, v_prev, v_cur, n_appended, phase,
                      checks, reads, skipped)
    rw_s = time.time() - t_rw
    log(f"read beside write: {n_batches} commits in {rw_s:.2f}s; reads "
        + ", ".join(f"{k}/{p} {median(v):.3f}s"
                    for (k, p), v in sorted(reads.items())))
    out = {
        "setup_s": setup_s,
        "turns_per_s": rw_rows / rw_s,
        "latency_p50_s": mix_quantile(reads, 0.5),
        "latency_p90_s": mix_quantile(reads, 0.9),
    }

    # the final table and both pruned scans against unpruned reads
    full = tbl.read(spark)
    checks.check(
        table_rows(full)
        == sorted((c, t, v[1]) for (c, t), v in client.state.items()),
        "merge-on-read table != client model",
    )
    lo, hi = _day_bounds(client.days[0])
    checks.check(
        table_rows(tbl.scan_range(spark, "ts", lo, hi))
        == table_rows(full.where((F.col("ts") >= lo) & (F.col("ts") <= hi))),
        "scan_range != read().where(...)",
    )
    conv = sorted({k[0] for k in client.state})[0]
    checks.check(
        table_rows(tbl.scan_point(spark, "conv_id", conv))
        == table_rows(full.where(F.col("conv_id") == conv)),
        "scan_point != read().where(...)",
    )

    if trace:
        layers.update(
            _layer_metrics(tbl, reads, skipped, rw_rows, rw_s, tracer)
        )
        layers.update(spark_ui_metrics(spark))
    return {"e2e": out, "layers": layers, "checks": checks, "spark": spark}


def _layer_metrics(tbl, reads, skipped, rw_rows, rw_s, tracer) -> dict:
    m: dict = {"sink.rw_turns_per_s": rw_rows / rw_s}
    mor = [c for c in tbl.calls
           if c[0] == "commit_upsert" and c[3]["batch_id"] != "backlog"]
    m["sink.commit_upsert_p50_s"] = median([c[2] - c[1] for c in mor])
    m["sink.commit_upsert_max_s"] = max(c[2] - c[1] for c in mor)
    m["sink.files_written"] = sum(c[3].get("files", 0) for c in mor)
    m["sink.bytes_written"] = sum(c[3].get("bytes", 0) for c in mor)
    m["sink.write_amp"] = sum(c[3].get("rows", 0) for c in mor) / rw_rows
    for name in READS:
        m[f"sink.{name}_p50_s"] = mix_quantile(reads, 0.5, (name,))
    m["sink.files_skipped_frac"] = sum(a for a, _ in skipped) / max(
        1, sum(b for _, b in skipped)
    )
    snap = tbl.current_snapshot()
    m["sink.delete_files_live"] = sum(
        len(tbl._load_manifest(r)) for r in snap.get("delete_manifests") or []
    )
    m["sink.data_files_live"] = sum(
        len(f) for f in tbl.resolve_manifests(snap).values()
    )
    for name in ("materialize_deletes", "compact", "expire_snapshots"):
        d = tbl.durations(name)
        m[f"sink.{name}_s"] = median(d) if d else 0.0
    selfs = tracer.self_times()
    m["trace.sink_self_s"] = sum(
        v for k, v in selfs.items() if k.startswith("sink.")
    )
    return m
