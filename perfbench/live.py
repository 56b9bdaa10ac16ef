"""The live segment: an open loop. The feeder process lands pre-rendered
envelope files on a fixed schedule while the session-window query and the
stateful user-reply pairs query run concurrently at the CLI's 10 s
processing-time trigger, each into an exactly-once append sink.

Lag of a result = return of the commit that made it visible minus the
landing time of the event that made it determinable: for a pair, the later
of its two turns; for a session, the first event whose event time carries
the watermark (max event time - 10 min) to the session's end (last event
+ 30 min gap). The schedule starts with the queries, so files pile up
during the cold first trigger and the second trigger reads them at once;
results determined by files landed before both first triggers ended are
not sampled, since their lag holds the cold start.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import math
import os
import subprocess
import sys
import time

from pyspark.sql import functions as F

from kafka2iceberg_spark import ingest, pipeline, state, windows
from kafka2iceberg_spark.gen import envelopes

from common import (
    FILES_PER_TRIGGER,
    SPEC,
    Checks,
    ProgressLog,
    TimedTable,
    log,
    median,
    progress_metrics,
    quantile,
    state_metrics,
)
from live_config import FILES, WARM_FILES, live_config

#: triggers after the cold first one that read scheduled files: the
#: feeder lands files until each query has finished all but the last of
#: them, and the last reads what landed meanwhile. Sizing the segment in
#: triggers, not seconds, gives every run the same number of steady-state
#: batches whatever the machine's speed
LIVE_TRIGGERS = 4
TRIGGER = {"processingTime": "10 seconds"}  # the CLI's trigger.interval
DELAY_S = 10 * 60  # the start_*_sink watermark delay
TAIL_LIMIT_S = 75.0


def _iso_us(s: str) -> int:
    t = dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ")
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)


def _rows_done(log_: ProgressLog, qid: str) -> int:
    return sum(p["numInputRows"] for p in log_.progress(qid))


def _wait(cond, limit_s: float) -> bool:
    deadline = time.time() + limit_s
    while not cond():
        if time.time() > deadline:
            return False
        time.sleep(0.05)
    return True


def _batch_commit_times(tbl: TimedTable) -> dict[str, float]:
    return {
        info["batch_id"]: t1
        for name, _t0, t1, info in tbl.calls
        if name == "commit_append" and info.get("result")
    }


def _rows_with_batch(spark, tbl: TimedTable) -> list[tuple]:
    """Every table row with the batch id of the snapshot that added it."""
    v = tbl.current_version()
    by_file = {
        os.path.basename(p): tbl.snapshot_at(ver)["batch_id"]
        for p, ver in tbl.added_files_with_versions(0, v)
    }
    df = tbl.read(spark).withColumn("_f", F.input_file_name())
    out = []
    for r in df.collect():
        d = r.asDict()
        f = os.path.basename(d.pop("_f"))
        out.append((d, by_file[f]))
    return out


def segment(spark, seed: int, work: str, tracer, checks: Checks) -> dict:
    """Run the live segment on ``spark`` for ``LIVE_TRIGGERS`` triggers of
    landings and return its per-layer figures; correctness goes into
    ``checks``."""
    here = os.path.dirname(os.path.abspath(__file__))
    broker = os.path.join(work, "broker")
    signals = {k: os.path.join(work, k) for k in ("go", "stop")}
    feed_log = os.path.join(work, "feeder.json")
    feeder = subprocess.Popen(
        [sys.executable, os.path.join(here, "feeder.py"),
         "--seed", str(seed), "--stage", os.path.join(work, "stage"),
         "--broker", broker, "--go", signals["go"],
         "--stop", signals["stop"], "--log", feed_log],
        stdout=sys.stderr,
    )
    plog = ProgressLog()
    spark.streams.addListener(plog)
    try:
        return _segment(spark, seed, work, tracer, checks, plog, feeder,
                        broker, signals, feed_log)
    finally:
        spark.streams.removeListener(plog)
        if feeder.poll() is None:
            feeder.kill()
        feeder.wait()


def _segment(spark, seed, work, tracer, checks, plog, feeder, broker,
             signals, feed_log):
    cfg = live_config(seed)
    if not _wait(lambda: os.path.isdir(broker)
                 and len(os.listdir(broker)) >= WARM_FILES, 60):
        raise RuntimeError("feeder did not land the warm-up prefix")
    t_first = time.time()
    raw = pipeline.file_broker_stream(spark, broker, FILES_PER_TRIGGER)
    parsed = pipeline.parsed_stream(raw, SPEC)
    tables = {}
    queries = {}
    for kind, start in (("sessions", pipeline.start_session_sink),
                        ("pairs", pipeline.start_pairs_sink)):
        tables[kind] = TimedTable(
            os.path.join(work, kind), pk=[], partition_field=None,
            tracer=tracer, track_files=True,
        )
        queries[kind] = start(parsed, tables[kind],
                              os.path.join(work, f"ck_{kind}"),
                              trigger=TRIGGER)
    qid = {k: str(q.id) for k, q in queries.items()}
    open(signals["go"], "w").close()
    ok = _wait(lambda: all(_rows_done(plog, i) > 0 for i in qid.values()),
               90)
    if not ok:
        raise RuntimeError("live queries did not finish their first batch")
    t_warm = time.time()
    first_trigger_s = t_warm - t_first
    log(f"live first trigger: {first_trigger_s:.2f}s")

    def steady_triggers() -> int:
        """Triggers with input after the first, of the slower query."""
        return min(
            sum(1 for p in plog.progress(i) if p["numInputRows"]) - 1
            for i in qid.values()
        )

    _wait(lambda: steady_triggers() >= LIVE_TRIGGERS - 1
          or feeder.poll() is not None, 150)
    open(signals["stop"], "w").close()
    t_stop = time.time()
    if feeder.wait(timeout=30) != 0:
        raise RuntimeError("feeder failed")
    with open(feed_log) as fh:
        feed = json.load(fh)
    landed = [f for f in feed["files"] if "landed" in f]
    log(f"feeder done: {len(landed)} files, late "
        f"{feed['late_s_max']:.3f}s")

    # the queries stop once the last trigger ends. A file that landed after
    # that trigger started is outside the segment; every earlier one must
    # have been read. Sessions the last batch's watermark closes are
    # emitted by the next batch, which is not waited for: the checks below
    # hold every session to the watermark of the batch that emitted it
    done = _wait(lambda: steady_triggers() >= LIVE_TRIGGERS, TAIL_LIMIT_S)
    for q in queries.values():
        q.stop()
    log(f"queries stopped after {steady_triggers()} triggers")
    checks.check(done, f"live: fewer than {LIVE_TRIGGERS} triggers read "
                 "scheduled files")
    for kind, i in qid.items():
        prog = [p for p in plog.progress(i) if p["numInputRows"]]
        t_last = _iso_us(prog[-1]["timestamp"]) / 1e6
        due = sum(f["lines"] for f in landed if f["landed"] < t_last)
        checks.check(_rows_done(plog, i) >= due,
                     f"{kind}: files landed before the last trigger unread")

    # -- correctness against the batch twins, over the processed prefix --
    env = envelopes(cfg)
    chunk = math.ceil(len(env) / FILES)
    # max event time seen up to each envelope, in landing order
    runmax = list(itertools.accumulate(
        (
            dt.datetime.strptime(e["data"][0]["ts"], "%Y-%m-%d %H:%M:%S")
            .replace(tzinfo=dt.timezone.utc).timestamp()
            for e in env
        ),
        max,
    ))
    first = {}
    for n, e in enumerate(env):
        d = e["data"][0]
        first.setdefault((d["conv_id"], int(d["turn_idx"])), n)
    land = [f["landed"] for f in landed]

    lags: dict[str, list[float]] = {"pairs": [], "sessions": []}
    for kind in ("pairs", "sessions"):
        tbl = tables[kind]
        prog = plog.progress(qid[kind])
        done_rows = sum(p["numInputRows"] for p in prog)
        cum = 0
        n_files = 0
        for f in landed:
            if cum >= done_rows:
                break
            cum += f["lines"]
            n_files += 1
        checks.check(cum == done_rows,
                     f"{kind}: processed rows are not a file prefix")
        paths = [os.path.join(broker, f["name"]) for f in landed[:n_files]]
        twin_in = ingest.parse(spark.read.text(paths), SPEC).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        rows = _rows_with_batch(spark, tbl)
        commit_t = _batch_commit_times(tbl)
        seen = set()
        if kind == "pairs":
            twin = {
                (r["conv_id"], r["user_turn_idx"]): r.asDict()
                for r in state.paired_turns_batch(
                    twin_in.select("conv_id", "turn_idx", "role", "text",
                                   "ts").distinct()
                ).collect()
            }
            in_prefix = {k for k, n in first.items() if n < cum}
            required = {
                k for k in twin if (k[0], k[1] + 1) in in_prefix
            }
            for d, bid in rows:
                key = (d["conv_id"], d["user_turn_idx"])
                checks.check(key not in seen and twin.get(key) == d,
                             f"pairs: row {key} differs from the twin")
                seen.add(key)
                nxt = (key[0], key[1] + 1)
                if nxt in first:
                    e = max(first[key], first[nxt])
                    fi = e // chunk
                    if land[fi] >= t_warm and bid in commit_t:
                        lags["pairs"].append(commit_t[bid] - land[fi])
        else:
            # the watermark each batch ran with; a batch stopped before it
            # reported ran with the one the reported batches moved it to
            wm_of = {str(p["batchId"]): _iso_us(p["eventTime"]["watermark"])
                     for p in prog}
            wm_next = max(
                _iso_us(p["eventTime"]["max"]) for p in prog
                if "max" in p["eventTime"]
            ) - DELAY_S * 1_000_000
            wm_us = _iso_us(prog[-1]["eventTime"]["watermark"])
            twin = {
                (r["conv_id"], r["session_start_us"]): r.asDict()
                for r in windows.sessionize(
                    twin_in, "30 minutes", ["conv_id"],
                    [F.count(F.lit(1)).alias("n_turns"),
                     F.max("turn_idx").alias("max_turn")],
                ).collect()
            }
            required = {k for k, r in twin.items()
                        if r["session_end_us"] < wm_us}
            for d, bid in rows:
                key = (d["conv_id"], d["session_start_us"])
                checks.check(
                    key not in seen and twin.get(key) == d
                    and d["session_end_us"] <= wm_of.get(bid, wm_next),
                    f"sessions: row {key} differs from the twin",
                )
                seen.add(key)
                e = bisect.bisect_left(
                    runmax, d["session_end_us"] / 1e6 + DELAY_S
                )
                fi = e // chunk
                if fi < len(land) and land[fi] >= t_warm and bid in commit_t:
                    lags["sessions"].append(commit_t[bid] - land[fi])
        for key in required - seen:
            checks.check(False, f"{kind}: missing determined row {key}")
        log(f"{kind}: {len(rows)} rows, {len(lags[kind])} lag samples")

    backlogs = {k: _backlog(plog.progress(i), landed)
                for k, i in qid.items()}
    for kind, series in backlogs.items():
        # the backlog does not grow while the schedule runs: every trigger
        # that started then could take every file waiting at its start.
        # The second trigger is left out: it reads the files that piled up
        # during the cold first one
        fed = [b for t, b in series[2:] if t < t_stop]
        checks.check(
            bool(fed) and max(fed) <= FILES_PER_TRIGGER,
            f"{kind}: file backlog grew over the run: {fed}",
        )
    m = _layer_metrics(plog, qid, tables, lags, feed, backlogs)
    m["pipeline.live_first_trigger_s"] = first_trigger_s
    return m


def _backlog(progress: list[dict], landed: list[dict]) -> list[tuple]:
    """(trigger start, files landed but not yet read at that start) for
    each trigger of one query."""
    out = []
    done = 0
    for p in progress:
        t = _iso_us(p["timestamp"]) / 1e6
        arrived = sum(1 for f in landed if f["landed"] <= t)
        cum, read = 0, 0
        for f in landed:
            if cum >= done:
                break
            cum += f["lines"]
            read += 1
        out.append((t, arrived - read))
        done += p["numInputRows"]
    return out


def _layer_metrics(plog, qid, tables, lags, feed, backlogs) -> dict:
    prog = plog.progress(qid["pairs"]) + plog.progress(qid["sessions"])
    m = progress_metrics(prog, "pipeline.")
    m["pipeline.backlog_files_max"] = max(
        b for series in backlogs.values() for _t, b in series
    )
    m.update(state_metrics(plog.progress(qid["sessions"]), "windows."))
    m.update(state_metrics(plog.progress(qid["pairs"]), "state."))
    for kind, name in (("pairs", "state.pair"), ("sessions",
                                                 "windows.session")):
        if lags[kind]:
            m[f"{name}_lag_p50_s"] = median(lags[kind])
            m[f"{name}_lag_p99_s"] = quantile(lags[kind], 0.99)
    appends = [d for t in tables.values() for d in t.durations("commit_append")]
    m["sink.commit_append_p50_s"] = median(appends)
    m["gen.late_s_max"] = feed["late_s_max"]
    return m
