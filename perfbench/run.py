"""Benchmark entry point.

    python3 perfbench/run.py --workload backlog_drain --seed 1 --seconds 25 --trace 0

Run from the repository root. Builds nothing (the program is pure Python
on the installed PySpark); starts one worker process for the run, samples
the memory of its whole process tree, enforces the time limit, removes
every file the run wrote and prints one JSON line as the last line of
standard output: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the ``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIME_LIMIT_S = 175  # the run must end within 180 s


def group_pids(pgid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # an exited process left unreaped (state Z) holds no resources
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(name))
    return out


def group_rss_mb(pgid: int) -> float:
    """Resident memory of the group, each page shared between its
    processes counted once (the sum of proportional set sizes): a plain
    RSS sum would count the pages forked Python workers share with their
    daemon once per worker alive at the sampling instant."""
    total_kb = 0
    for pid in group_pids(pgid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def end_group(pgid: int, grace_s: float) -> None:
    """Wait for every process of the group to end; kill what remains."""
    deadline = time.time() + grace_s
    while group_pids(pgid) and time.time() < deadline:
        time.sleep(0.2)
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    while group_pids(pgid):
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "kafka2iceberg_spark")):
        print("perfbench: kafka2iceberg_spark not found beside perfbench/",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    work = os.path.join(
        ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT, env.get("PYTHONPATH", "")]),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        # every JVM (the spark-submit launcher too) keeps its temporary
        # files in the run's directory and writes no hsperfdata file
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        PYTHONUNBUFFERED="1",
    )
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--out", out,
    ]
    t0 = time.time()
    child = subprocess.Popen(
        cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True
    )
    peak = 0.0
    timed_out = False
    try:
        while child.poll() is None:
            peak = max(peak, group_rss_mb(child.pid))
            if time.time() - t0 > TIME_LIMIT_S:
                timed_out = True
                break
            time.sleep(0.25)
    finally:
        end_group(child.pid, 0 if timed_out else 20)
        child.wait()
    result = None
    if not timed_out and child.returncode == 0 and os.path.exists(out):
        with open(out) as fh:
            result = json.load(fh)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            keep = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(keep, exist_ok=True)
            shutil.move(spans, os.path.join(
                keep, f"spans-{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        why = "time limit" if timed_out else f"exit {child.returncode}"
        print(f"perfbench: run failed ({why})", file=sys.stderr)
        return 1

    got = dict(result["metrics"])
    if not a.trace:
        got["peak_rss_mb"] = peak
    metrics = {}
    for m in wanted:
        name = m["name"]
        # a per-layer metric of a layer the workload does not exercise
        # reads 0; any other missing metric fails the run
        if name not in got and (not a.trace or name in result["exercised"]):
            print(f"perfbench: missing metric {name}", file=sys.stderr)
            return 1
        metrics[name] = {"value": got.get(name, 0), "unit": m["unit"]}
    for note in result.get("notes", []):
        print(f"perfbench: check failed: {note}", file=sys.stderr)
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
