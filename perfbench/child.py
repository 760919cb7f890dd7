"""One workload in a fresh process: set up, warm up, run timed passes.

Invoked by ``run.py`` as ``python3 perfbench/child.py <spec.json>``; writes
its record (set-up timings, one entry per timed op, and for a traced run
the layer spans and single-thread layer rates) to the spec's ``out`` path.
A fresh process per workload matters: reusing a Spark session across
workloads degrades local mode.
"""

from __future__ import annotations

import json
import random
import sys
import time
import traceback
from contextlib import nullcontext


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["root"])
    from heavy_hitters_spark.spark import get_spark

    tracer = None
    if spec["trace"]:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()
    span = tracer.span if tracer else (lambda _name: nullcontext())

    with span("session.start"):
        spark = get_spark(spec["master"], app=f"perfbench-{spec['workload']}")
        spark.sparkContext.setLogLevel("ERROR")
    try:
        record = run(spark, spec, tracer, span)
    finally:
        spark.stop()
    if tracer:
        record["spans"] = tracer.spans
    with open(spec["out"], "w") as f:
        json.dump(record, f)


def run(spark, spec: dict, tracer, span) -> dict:
    from workloads import WORKLOADS

    wl = WORKLOADS[spec["workload"]](spark, spec["root"], spec["data_dir"], spec["seed"], span)
    excluded = wl.stage()
    rng = random.Random(spec["seed"])
    t_warm = time.time()
    for name in wl.pass_order(rng):
        try:
            wl.run(name)
        except Exception:  # noqa: BLE001 — the timed pass records it
            traceback.print_exc()
    t_first = time.time()
    ops: list[dict] = []
    n_pass = 0
    while not ops or t_first + spec["seconds"] > time.time():
        n_pass += 1
        for name in wl.pass_order(rng):
            if tracer:
                tracer.op = len(ops)
            busy0, stolen0 = cpu_ticks()
            t0 = time.time()
            error, res = None, {}
            try:
                res = wl.run(name)
            except Exception as e:  # noqa: BLE001 — a failed op is counted
                error = f"{type(e).__name__}: {e}"
                traceback.print_exc()
            t1 = time.time()
            busy1, stolen1 = cpu_ticks()
            if tracer:
                tracer.op = None
            if error is None:
                try:
                    error = wl.check(name, res)
                except Exception as e:  # noqa: BLE001 — a check that raises fails the op
                    error = f"check raised {type(e).__name__}: {e}"
            op = {"name": name, "pass": n_pass, "start": t0, "end": t1, "error": error, "docs": 0, "rows": 0,
                  "busy_ticks": busy1 - busy0, "stolen_ticks": stolen1 - stolen0}
            op.update({k: v for k, v in res.items() if k != "out"})
            ops.append(op)
    record = {
        "workload": spec["workload"],
        "setup": {
            "setup_s": t_first - spec["t_spawn"] - excluded,
            "warmup_s": t_first - t_warm,
            "excluded_s": excluded,
        },
        "ops": ops,
    }
    if tracer and hasattr(wl, "micro"):
        record["micro"] = wl.micro()
    return record


if __name__ == "__main__":
    main(sys.argv[1])
