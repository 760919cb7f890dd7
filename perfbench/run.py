"""Repository benchmark: two closed-loop workloads over the sketch library.

    python3 perfbench/run.py --workload build|queries --seed N --seconds S --trace 0|1

Run from the repository root. Each workload runs in a fresh process on
``local[<cpus>]`` (the CPUs this process may use), takes its inputs from
``--seed``, checks every op's output, and measures whole passes until at
least ``--seconds`` have gone by. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced
process (Spark event log on, layer spans on), run after an untraced one so
the tracing overhead shows; each of the two measures half of ``--seconds``,
so a traced run costs one more set-up, not twice the measuring. The line
before it is the full record: the stamp (host, versions, seed, commit),
sample counts, the tail rule used, resident memory peaks and medians, and
the reason for every failed op. Metric definitions are in
``perfbench/METRICS.md``.

All files the benchmark writes stay under ``perfbench/.data`` (fixture
tables and oracle answers, kept across runs) and ``perfbench/.work``
(Spark scratch, temp dirs and event logs, deleted after each run).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import report  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

REQUIRED = ("heavy_hitters_spark/__init__.py", "__spark_entry__.py", "bench.py", "tools/check_oracles.py")
RUN_LIMIT_S = 175  # one invocation, both processes of a traced run included
RSS_POLL_S = 0.2


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:  # the process ended between listing and reading
        pass
    return out


def tree_rss(pid: int) -> tuple[int, int]:
    """Resident bytes of ``pid`` and all its descendants: (the JVM's,
    the Python processes')."""
    page = os.sysconf("SC_PAGE_SIZE")
    jvm = python = 0
    stack = [pid]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{p}/comm") as f:
                is_jvm = f.read().strip() == "java"
        except OSError:
            continue
        if is_jvm:
            jvm += rss
        else:
            python += rss
        stack.extend(_children(p))
    return jvm, python


def _become_subreaper() -> None:
    """Have orphaned descendants (the JVM, once the workload process has
    exited) re-parented to this process, so that it can wait for them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _session_members(sid: int) -> list[int]:
    """Processes of session ``sid``, zombies included."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            out.append(int(entry))
    return out


def _reap(proc: subprocess.Popen) -> None:
    """Stop every process of the session the workload process leads (its
    JVM, and PySpark's worker daemon, which moves its workers to a process
    group of their own) and wait until each has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        while True:  # collect adopted descendants that have ended
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        members = _session_members(proc.pid)
        if not members:
            return
        for pid in members:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def run_process(spec: dict, env: dict, work: str, deadline: float) -> dict:
    """Run one workload process and return its record, with the resident
    memory of its process tree sampled from /proc added under ``rss_mb``."""
    spec_path = os.path.join(work, f"spec-{spec['trace']}.json")
    spec["out"] = os.path.join(work, f"record-{spec['trace']}.json")
    log_path = os.path.join(work, f"log-{spec['trace']}.txt")
    spec["t_spawn"] = time.time()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    rss = []  # (time, JVM bytes, Python bytes)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), spec_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            while proc.poll() is None:
                if time.time() > deadline:
                    raise RuntimeError(f"{spec['workload']} process passed the {RUN_LIMIT_S}s run limit")
                rss.append((time.time(), *tree_rss(proc.pid)))
                time.sleep(RSS_POLL_S)
        finally:
            _reap(proc)
    if proc.returncode != 0 or not os.path.exists(spec["out"]):
        with open(log_path) as f:
            log_tail = f.read()[-4000:]
        raise RuntimeError(f"{spec['workload']} process exited {proc.returncode}:\n{log_tail}")
    with open(spec["out"]) as f:
        record = json.load(f)
    record["rss_mb"] = report.rss_summary(rss, record["ops"][0]["start"], record["ops"][-1]["end"])
    return record


def child_env(work: str, event_dir: str | None, nproc: int) -> dict:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    for var in ("SPARK_GRAFT_LOCAL_DIR", "SKETCH_PROF_DIR"):  # would write outside the checkout
        env.pop(var, None)
    confs = {"spark.ui.showConsoleProgress": "false"}
    if event_dir is not None:
        os.makedirs(event_dir)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(nproc),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        JAVA_TOOL_OPTIONS=" ".join(
            p for p in (env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
        ),
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
        + " pyspark-shell",
    )
    return env


def stamp(args, nproc: int, master: str) -> dict:
    import numpy
    import pyarrow
    import pyspark

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    try:
        java_version = subprocess.run([java, "-XX:-UsePerfData", "-version"], capture_output=True, text=True).stderr.splitlines()[0]
    except (OSError, IndexError):
        java_version = None
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):  # a plain source checkout has none
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
        ).stdout.strip() or None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": str(nproc),  # as child_env sets it for the workload process
        "master": master,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "java": java_version,
        "git_commit": commit,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the sketch library (missing {', '.join(missing)})", file=sys.stderr)
        return 2
    # a terminated run still stops its workload processes (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    _become_subreaper()
    deadline = time.time() + RUN_LIMIT_S
    sys.path.insert(0, ROOT)
    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    data_dir = os.path.join(HERE, ".data")
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(data_dir, exist_ok=True)
    try:
        wl = WORKLOADS[args.workload]
        if hasattr(wl, "oracle_sql"):  # fixture tables and oracle answers, cached
            import fixture

            fixture.ensure_oracles(data_dir, fixture.ensure_tables(data_dir), wl.oracle_sql())
        spec = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds / (1 + args.trace),
            "master": master, "root": ROOT, "data_dir": data_dir,
        }
        runs = []
        for trace in range(args.trace + 1):
            event_dir = os.path.join(work, "events") if trace else None
            env = child_env(os.path.join(work, f"p{trace}"), event_dir, nproc)
            record = run_process(dict(spec, trace=trace), env, work, deadline)
            values, samples = report.end_to_end(record)
            runs.append((record, values, samples, event_dir))
        e2e_units, layer_units = report.declared_units(os.path.join(ROOT, "BENCHMARK.json"))
        record, values, samples, _ = runs[0]
        ops = [o for r in runs for o in r[0]["ops"]]
        failed = [o for o in ops if o["error"]]
        out = {
            "stamp": stamp(args, nproc, master),
            "end_to_end": {k: dict(v, samples=samples[k]) for k, v in report.as_metrics(values, e2e_units).items()},
            "latency_tail": report.tail([[o["end"] - o["start"] for o in p] for p in report.by_pass(record["ops"])]),
            "setup": record["setup"],
            "rss_mb": record["rss_mb"],
            "op_walls": [[o["name"], o["end"] - o["start"]] for o in record["ops"]],
            "host_steal_share": report.steal_share(record["ops"]),
            "error_rate": report.error_rate(ops),
            "failed_ops": [{"name": o["name"], "error": o["error"]} for o in failed],
        }
        metrics = report.as_metrics(values, e2e_units)
        if args.trace:
            t_record, t_values, _, event_dir = runs[1]
            jobs = tracing.load_jobs(event_dir)
            tracing.attribute(jobs, t_record["spans"], t_record["ops"])
            layer_values, layer_samples = report.per_layer(t_record, jobs, values, t_values, nproc)
            out["traced_end_to_end"] = t_values
            out["per_layer_samples"] = layer_samples
            out["layer_self_ms_per_op"] = report.layer_self_ms(t_record["spans"], len(t_record["ops"]))
            out["efficiency_bases"] = {
                "docs_per_s": values["docs_per_s"], "nproc": nproc,
                "fused.kernel_docs_per_s_1t": layer_values["fused.kernel_docs_per_s_1t"],
            }
            metrics = report.as_metrics(layer_values, layer_units)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print("perfbench-record " + json.dumps(out))
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
