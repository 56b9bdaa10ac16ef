"""Shared pieces of the benchmark: session set-up, spans, a timed sink
subclass, a progress listener and the statistics helpers.

Everything here wraps the program's public functions from outside; nothing
in ``kafka2iceberg_spark`` is changed or monkey-patched.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import threading
import time
import urllib.request

from pyspark.sql.streaming import StreamingQueryListener

from kafka2iceberg_spark import pipeline
from kafka2iceberg_spark.__main__ import build_session
from kafka2iceberg_spark.gen import GenConfig, write_stream_files
from kafka2iceberg_spark.schema import transcript_task
from kafka2iceberg_spark.sink import IcebergLite

SPEC = transcript_task()
#: the CLI's default ``broker.max-files-per-trigger``
FILES_PER_TRIGGER = 8


_T0 = time.time()


def log(msg: str) -> None:
    """Progress note on stderr (standard output carries only the result)."""
    print(f"perfbench [{time.time() - _T0:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``numpy.quantile``'s default rule)."""
    if not values:
        raise ValueError("quantile of no values")
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


class Checks:
    """Counts operations attempted and those that failed their oracle."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at exit.

    Disabled tracers hand out a shared no-op context, so untraced runs pay
    one attribute check per wrapped call."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        # spans opened on other threads (foreachBatch callbacks) nest under
        # the innermost open span of the thread that made the tracer
        self._main = self._stack()

    def _stack(self) -> list:
        return self._local.__dict__.setdefault("stack", [])

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        outer = stack or self._main
        rec = {
            "id": None,
            "name": name,
            "parent": outer[-1]["id"] if outer else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part covered by child spans."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + max(own, 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class TimedTable(IcebergLite):
    """IcebergLite whose public commit, read and maintenance calls are
    timed from outside. Each call appends ``(name, start, end, info)`` to
    ``calls``; write calls also record the files and bytes they added when
    ``track_files`` is on (traced runs), since that walk costs metadata IO.
    """

    def __init__(self, *args, tracer: Tracer, track_files: bool = False,
                 **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.tracer = tracer
        self.track_files = track_files
        self.calls: list[tuple[str, float, float, dict]] = []
        self._calls_lock = threading.Lock()

    def _live_files(self) -> dict[str, int]:
        if self.current_version() is None:
            return {}
        snap = self.current_snapshot()
        return {
            f["path"]: int(f.get("rows") or 0)
            for files in self.resolve_manifests(snap).values()
            for f in files
        }

    def _timed(self, name: str, fn, *args, tag=None, **kwargs):
        before = self._live_files() if self.track_files else None
        with self.tracer.span(f"sink.{name}"):
            t0 = time.time()
            out = fn(*args, **kwargs)
            t1 = time.time()
        info: dict = {
            "result": out if isinstance(out, (bool, int)) else None,
            "batch_id": tag,
        }
        if before is not None:
            added = {
                p: r for p, r in self._live_files().items() if p not in before
            }
            info["files"] = len(added)
            info["rows"] = sum(added.values())
            info["bytes"] = sum(
                os.path.getsize(p) for p in added if os.path.exists(p)
            )
        with self._calls_lock:
            self.calls.append((name, t0, t1, info))
        return out

    def commit_upsert(self, df, batch_id, strategy="cow", branch="main"):
        return self._timed(
            "commit_upsert", super().commit_upsert, df, batch_id,
            strategy=strategy, branch=branch, tag=str(batch_id),
        )

    def commit_append(self, df, batch_id, branch="main"):
        return self._timed(
            "commit_append", super().commit_append, df, batch_id,
            branch=branch, tag=str(batch_id),
        )

    def materialize_deletes(self, spark):
        return self._timed(
            "materialize_deletes", super().materialize_deletes, spark
        )

    def compact(self, spark, *args, **kwargs):
        return self._timed("compact", super().compact, spark, *args, **kwargs)

    def expire_snapshots(self, keep_last=10):
        return self._timed(
            "expire_snapshots", super().expire_snapshots, keep_last=keep_last
        )

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for n, t0, t1, _ in self.calls if n == name]


class ProgressLog(StreamingQueryListener):
    """Keeps every StreamingQueryProgress (as parsed JSON) per query name,
    or per query id for unnamed queries."""

    def __init__(self) -> None:
        self.by_name: dict[str, list[dict]] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        p["_seen"] = time.time()
        with self._lock:
            self.by_name.setdefault(p.get("name") or p["id"], []).append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def progress(self, name: str) -> list[dict]:
        with self._lock:
            return list(self.by_name.get(name, []))


def new_session(cores: int):
    spark = build_session({"local": "true", "local.cores": str(cores)})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def drain(spark, broker: str, table: IcebergLite, ckpt: str, name: str):
    """One closed-loop drain of everything in ``broker`` through the
    production upsert path (availableNow, copy-on-write)."""
    raw = pipeline.file_broker_stream(spark, broker, FILES_PER_TRIGGER)
    q = pipeline.start_upsert_sink(
        pipeline.parsed_stream(raw, SPEC),
        table,
        ckpt,
        trigger={"availableNow": True},
    )
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"{name}: {q.exception()}")
    return q


def set_up(work: str, cores: int, tracer: Tracer, spark=None):
    """Stop ``spark`` if given, start a session and warm it with a small
    drain. Returns the session and the seconds taken. The first call of a
    run is a cold start: it launches the JVM, and its warm-up drain is the
    session's first micro-batch."""
    warm_broker = os.path.join(work, "warm_broker")
    if not os.path.isdir(warm_broker):
        write_stream_files(
            GenConfig(n_convs=40, turns_per_conv=20, mega_convs=1,
                      mega_turns=200, seed=7),
            warm_broker,
            files=FILES_PER_TRIGGER,
        )
    d = os.path.join(work, "warm")
    with tracer.span("setup"):
        t0 = time.time()
        if spark is not None:
            spark.stop()
        spark = new_session(cores)
        drain(spark, warm_broker,
              IcebergLite(d + "/tbl", pk=SPEC.primary_keys),
              d + "/ck", "warm-up")
        took = time.time() - t0
    log(f"set-up at local[{cores}]: {took:.2f}s")
    shutil.rmtree(d, ignore_errors=True)
    return spark, took


def spark_ui_metrics(spark) -> dict:
    """Shuffle bytes, task skew and JVM GC seconds from the driver's own
    monitoring REST API (served on localhost by the local session)."""
    url = spark.sparkContext.uiWebUrl
    if not url:
        return {}
    app = spark.sparkContext.applicationId
    base = f"{url}/api/v1/applications/{app}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=10) as r:
            return json.load(r)

    stages = get("/stages?status=complete")
    shuffle_bytes = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    skews = []
    for s in stages:
        if s.get("numCompleteTasks", 0) < 4:
            continue
        summ = get(
            f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary"
            "?quantiles=0.5,1.0"
        )
        med, mx = summ["executorRunTime"]
        if med > 0:
            skews.append(mx / med)
    gc_ms = sum(e.get("totalGCTime", 0) for e in get("/allexecutors"))
    return {
        "shuffle.write_bytes": shuffle_bytes,
        "shuffle.task_skew": median(skews) if skews else 1.0,
        "jvm.gc_s": gc_ms / 1000.0,
    }


def progress_metrics(progress: list[dict], prefix: str) -> dict:
    """pipeline.* figures from StreamingQueryProgress (data batches only)."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0] or progress
    out = {f"{prefix}batches": len(progress)}
    for key, name in (
        ("triggerExecution", "trigger_p50_ms"),
        ("addBatch", "add_batch_p50_ms"),
        ("queryPlanning", "planning_p50_ms"),
        ("walCommit", "wal_p50_ms"),
        ("latestOffset", "latest_offset_p50_ms"),
    ):
        vals = [p["durationMs"].get(key, 0) for p in data]
        out[prefix + name] = median(vals) if vals else 0.0
    return out


def state_metrics(progress: list[dict], prefix: str) -> dict:
    """State-store figures of a stateful query (last batch's size, median
    commit and update time, total rows dropped late)."""
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    if not ops:
        return {}
    return {
        prefix + "state_rows": ops[-1].get("numRowsTotal", 0),
        prefix + "state_bytes": ops[-1].get("memoryUsedBytes", 0),
        prefix + "state_commit_p50_ms": median(
            [o.get("commitTimeMs", 0) for o in ops]
        ),
        prefix + "updates_p50_ms": median(
            [o.get("allUpdatesTimeMs", 0) for o in ops]
        ),
        prefix + "rows_dropped_late": sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops
        ),
    }
