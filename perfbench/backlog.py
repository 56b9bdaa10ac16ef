"""``backlog_drain``: a closed-loop drain of a pre-generated Canal-JSON
backlog through the production copy-on-write upsert path, then a restart
with the last batch uncommitted.

The backlog (out-of-order, late, duplicate and DELETE envelopes plus
mega-conversation skew) is drained by ``start_upsert_sink`` with an
``availableNow`` trigger, several micro-batches into a fresh accumulating
date-partitioned table: once to finish warming up, then at least three
times and again while another drain fits in the window. The last drain's
checkpoint then loses its final commit marker and the job restarts from
it: the sink's replay guard must skip that batch.
"""

from __future__ import annotations

import json
import os
import time

from kafka2iceberg_spark import ingest
from kafka2iceberg_spark.gen import GenConfig, envelopes, write_stream_files

from common import (
    SPEC,
    Checks,
    TimedTable,
    drain,
    log,
    median,
    nproc,
    progress_metrics,
    quantile,
    set_up,
    spark_ui_metrics,
)

#: the SCALE_GEN shape of the root bench.py at a sixth of its
#: conversations and mega-conversation length (about 25k envelopes)
BACKLOG = dict(
    n_convs=200, turns_per_conv=100, mega_convs=4, mega_turns=900,
    n_partitions=16,
)
BROKER_FILES = 24  # three micro-batches at the CLI's 8 files per trigger
#: per-layer metrics a traced run reports; the rest of ``per_layer`` in
#: BENCHMARK.json belongs to the other workload and reads 0 here
LAYER_METRICS = (
    "pipeline.trigger_p50_ms", "pipeline.add_batch_p50_ms",
    "pipeline.planning_p50_ms", "pipeline.wal_p50_ms",
    "pipeline.latest_offset_p50_ms", "pipeline.batches",
    "pipeline.backlog_files_max", "pipeline.resume_s",
    "pipeline.drain_local1_s", "pipeline.scaling_eff",
    "ingest.parse_rows_per_s", "ingest.rows_in", "ingest.rows_out",
    "ingest.rows_dropped",
    "sink.commit_upsert_p50_s", "sink.commit_upsert_max_s",
    "sink.files_written", "sink.bytes_written", "sink.write_amp",
    "sink.replay_skipped",
    "shuffle.write_bytes", "shuffle.task_skew", "jvm.gc_s",
    "trace.pipeline_self_s", "trace.sink_self_s", "trace.ingest_self_s",
    "trace.overhead_frac",
)


def oracle(envs: list[dict]) -> dict[tuple, str]:
    """Last writer wins per (conv_id, turn_idx) over the arrival-ordered
    envelopes; DELETE removes the key. Maps key -> turn text."""
    out: dict[tuple, str] = {}
    for e in envs:
        d = e["data"][0]
        k = (d["conv_id"], int(d["turn_idx"]))
        if e["type"] == "DELETE":
            out.pop(k, None)
        else:
            out[k] = d["text"]
    return out


def table_rows(df) -> list[tuple]:
    return sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in df.select("conv_id", "turn_idx", "text").collect()
    )


def backlog(seed: int, work: str) -> tuple[str, list[dict]]:
    """Write the seeded backlog as broker files; return the directory and
    the envelopes in arrival order."""
    cfg = GenConfig(**BACKLOG, seed=seed)
    broker = os.path.join(work, "broker")
    write_stream_files(cfg, broker, files=BROKER_FILES)
    return broker, envelopes(cfg)


def _resume(spark, broker, tbl, ck, checks: Checks) -> tuple[float, int]:
    """Drop the last commit marker and restart from the checkpoint; the
    replayed batch must add nothing. Returns the restart's seconds and the
    number of batches the sink skipped as replays."""
    commits = os.path.join(ck, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for name in (str(last), f".{last}.crc"):
        p = os.path.join(commits, name)
        if os.path.exists(p):
            os.remove(p)
    v0, n0 = tbl.current_version(), tbl.count_rows()
    calls0 = len(tbl.calls)
    t0 = time.time()
    with tbl.tracer.span("pipeline.resume"):
        drain(spark, broker, tbl, ck, "resume")
    took = time.time() - t0
    replays = [c for c in tbl.calls[calls0:] if c[0] == "commit_upsert"]
    checks.check(
        tbl.current_version() == v0
        and tbl.count_rows() == n0
        and len(replays) == 1
        and replays[0][3]["result"] is False,
        "resume added rows or did not replay the uncommitted batch",
    )
    return took, sum(1 for c in replays if c[3]["result"] is False)


def _visible_after(q, tbl: TimedTable, t0: float) -> list[float]:
    """Seconds from the drain's start until each drained envelope's
    micro-batch commit returned (one value per envelope)."""
    ends = {
        info["batch_id"]: t1
        for name, _s, t1, info in tbl.calls
        if name == "commit_upsert" and info.get("result")
    }
    out: list[float] = []
    for p in q.recentProgress:
        bid = str(p.batchId)
        if p.numInputRows and bid in ends:
            out += [ends[bid] - t0] * p.numInputRows
    return out


def run(seed: int, seconds: float, work: str, tracer, trace: bool) -> dict:
    cores = nproc()
    broker, envs = backlog(seed, work)
    expected = oracle(envs)
    log("inputs written")
    spark, setup_s = set_up(work, cores, tracer)
    checks = Checks()

    # drain 0 finishes warming the JIT and is not measured; then drain at
    # least three times and again while another drain fits. Traced runs
    # measure exactly three, untraced, traced, untraced: the traced one
    # against the mean of its neighbours is the tracing overhead, free of
    # the drift the JIT still shows from one drain to the next
    t_start = None
    drains: list[float] = []
    visible: list[list[float]] = []
    while True:
        i = len(drains)
        on = trace and i == 2
        tracer.enabled = on
        d = os.path.join(work, f"drain{i}")
        tbl = TimedTable(d + "/tbl", pk=SPEC.primary_keys, tracer=tracer,
                         track_files=on)
        t0 = time.time()
        with tracer.span("pipeline.drain"):
            q = drain(spark, broker, tbl, d + "/ck", "drain")
        drains.append(time.time() - t0)
        log(f"drain {i}: {drains[-1]:.2f}s")
        checks.check(
            tbl.count_rows() == len(expected), "drained row count != oracle"
        )
        if i == 0:
            t_start = time.time()
            continue
        visible.append(_visible_after(q, tbl, t0))
        if on:
            traced = (tbl, q)
        timed = drains[1:]
        if len(timed) >= 3 and (
            trace or time.time() - t_start + median(timed) > seconds
        ):
            break
    tracer.enabled = trace
    checks.check(
        table_rows(tbl.read(spark))
        == sorted((c, t, x) for (c, t), x in expected.items()),
        "drained table != last-writer-wins oracle",
    )
    resume_s, skipped = _resume(spark, broker, tbl, d + "/ck", checks)
    log(f"resume: {resume_s:.2f}s")
    out = {
        "setup_s": setup_s,
        "turns_per_s": len(envs) * len(drains[1:]) / sum(drains[1:]),
        # per drain, then the median over drains: pooling drains would put
        # the quantile on the boundary between two drains' batch clusters
        "latency_p50_s": median([quantile(v, 0.5) for v in visible]),
        "latency_p90_s": median([quantile(v, 0.9) for v in visible]),
    }
    layers: dict = {}
    if trace:
        layers, spark = _layer_metrics(
            spark, *traced, drains[1:], resume_s, skipped, len(envs),
            broker, work, tracer,
        )
    return {"e2e": out, "layers": layers, "checks": checks, "spark": spark}


def _layer_metrics(spark, tbl, q, drains, resume_s, skipped, n_env, broker,
                   work, tracer):
    """Per-layer figures of a traced run. Ends with the single-threaded
    baseline drain in a restarted session, which it returns."""
    untraced = (drains[0] + drains[2]) / 2
    m: dict = {
        "pipeline.resume_s": resume_s,
        "trace.overhead_frac": drains[1] / untraced - 1,
    }
    prog = [json.loads(p.json) for p in q.recentProgress]
    m.update(progress_metrics(prog, "pipeline."))
    m["pipeline.backlog_files_max"] = BROKER_FILES
    written = [c for c in tbl.calls
               if c[0] == "commit_upsert" and c[3].get("result")]
    batch_rows = sum(p["numInputRows"] for p in prog)
    m["sink.commit_upsert_p50_s"] = median([c[2] - c[1] for c in written])
    m["sink.commit_upsert_max_s"] = max(c[2] - c[1] for c in written)
    m["sink.files_written"] = sum(c[3].get("files", 0) for c in written)
    m["sink.bytes_written"] = sum(c[3].get("bytes", 0) for c in written)
    m["sink.write_amp"] = sum(c[3].get("rows", 0) for c in written) / max(
        1, batch_rows
    )
    m["sink.replay_skipped"] = skipped
    # ingest: a standalone batch parse over the same files, forced by noop
    raw = spark.read.text(broker)
    with tracer.span("ingest.parse"):
        t0 = time.time()
        ingest.parse(raw, SPEC).write.format("noop").mode("overwrite").save()
        parse_s = time.time() - t0
    rows_out = ingest.parse(raw, SPEC).count()
    m["ingest.parse_rows_per_s"] = n_env / parse_s
    m["ingest.rows_in"] = n_env
    m["ingest.rows_out"] = rows_out
    m["ingest.rows_dropped"] = n_env - rows_out
    m.update(spark_ui_metrics(spark))
    selfs = tracer.self_times()
    for layer in ("pipeline", "sink", "ingest"):
        m[f"trace.{layer}_self_s"] = sum(
            v for k, v in selfs.items() if k.startswith(layer + ".")
        )
    # single-threaded baseline: the same drain at local[1], measured like
    # the local[N] figure (the untraced drains above): untraced, in a
    # session warmed by the set-up drain, in the JVM the drains warmed
    cores = nproc()
    tracer.enabled = False
    one, _ = set_up(work, 1, tracer, spark)
    d = os.path.join(work, "drain_local1")
    t0 = time.time()
    drain(one, broker,
          TimedTable(d + "/tbl", pk=SPEC.primary_keys, tracer=tracer),
          d + "/ck", "drain local[1]")
    t1 = time.time() - t0
    log(f"drain at local[1]: {t1:.2f}s")
    m["pipeline.drain_local1_s"] = t1
    m["pipeline.scaling_eff"] = (t1 / untraced) / cores
    return m, one
