"""Open-loop broker feeder: a single-threaded process that lands
pre-rendered envelope files in the broker directory on a fixed schedule.

    python3 feeder.py --seed N --stage DIR --broker DIR --go PATH
                      --stop PATH --log PATH

It renders the live stream (``live_config``) with
``gen.write_stream_files`` into ``--stage`` first, lands the first
``WARM_FILES`` (the warm-up prefix) at once, then waits for ``--go`` to
exist and lands the next files one every ``INTERVAL_S`` seconds after it,
by atomic rename, until ``--stop`` exists or the rendered files run out.
The schedule never waits for Spark. Each landing sets the file's mtime to
its landing time, so the file source takes files in landing order. The log
records every file's landing time, scheduled time, line count and
per-partition offset range, and how late the feeder ran.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from live_config import FILES, INTERVAL_S, WARM_FILES, live_config

from kafka2iceberg_spark.gen import write_stream_files

GO_WAIT_S = 150.0  # give up when the go signal never comes


def _describe(path: str) -> dict:
    lines = 0
    offsets: dict[str, list[int]] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            lines += 1
            r = offsets.setdefault(str(e["_partition"]), [e["_offset"]] * 2)
            r[0] = min(r[0], e["_offset"])
            r[1] = max(r[1], e["_offset"])
    return {"lines": lines, "offsets": offsets}


def _land(src: str, broker: str) -> float:
    dst = os.path.join(broker, os.path.basename(src))
    os.rename(src, dst)
    now = time.time()
    os.utime(dst, ns=(time.time_ns(), time.time_ns()))
    return now


def main() -> int:
    ap = argparse.ArgumentParser()
    for name in ("stage", "broker", "go", "stop", "log"):
        ap.add_argument(f"--{name}", required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()

    paths = write_stream_files(live_config(a.seed), a.stage, files=FILES)
    files = [{"name": os.path.basename(p), **_describe(p)} for p in paths]
    os.makedirs(a.broker, exist_ok=True)
    for f, p in zip(files[:WARM_FILES], paths):
        f["landed"] = _land(p, a.broker)
        f["scheduled"] = f["landed"]
        f["warm"] = True

    deadline = time.time() + GO_WAIT_S
    while not os.path.exists(a.go):
        if time.time() > deadline:
            print("feeder: no go signal", file=sys.stderr)
            return 1
        time.sleep(0.01)
    t0 = time.time()
    late = 0.0
    for k, (f, p) in enumerate(zip(files[WARM_FILES:], paths[WARM_FILES:])):
        due = t0 + k * INTERVAL_S
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        if os.path.exists(a.stop):
            break
        f["landed"] = _land(p, a.broker)
        f["scheduled"] = due
        f["warm"] = False
        late = max(late, f["landed"] - due)
    with open(a.log + ".tmp", "w") as fh:
        json.dump({"go": t0, "late_s_max": late, "files": files}, fh)
    os.rename(a.log + ".tmp", a.log)
    return 0


if __name__ == "__main__":
    sys.exit(main())
