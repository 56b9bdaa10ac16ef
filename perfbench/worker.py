"""One benchmark run of one workload, in its own process group.

Started by ``run.py`` (which owns the time limit, memory sampling and
clean-up); writes its result as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from common import Tracer


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    tracer = Tracer(bool(a.trace), f"{a.workload}-{a.seed}-{int(time.time())}")
    if a.workload == "backlog_drain":
        import backlog as wl
    elif a.workload == "read_beside_write":
        import rbw as wl
    else:
        raise SystemExit(f"unknown workload {a.workload!r}")
    res = wl.run(a.seed, a.seconds, a.work, tracer, bool(a.trace))
    checks = res["checks"]
    metrics = res["layers"] if a.trace else res["e2e"]
    if a.trace:
        tracer.write(os.path.join(a.work, "spans.jsonl"))
    # the JVM exits when this process does; run.py waits for it
    res["spark"].stop()
    with open(a.out, "w") as fh:
        json.dump(
            {
                "correct": checks.failed == 0,
                "attempted": checks.attempted,
                "failed": checks.failed,
                "metrics": metrics,
                "exercised": list(wl.LAYER_METRICS),
                "notes": checks.notes[:20],
            },
            fh,
        )


if __name__ == "__main__":
    main()
