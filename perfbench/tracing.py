"""Layer spans around the library's public entry points, Spark event-log
parsing, and attribution of Spark jobs to layers.

The tracer lives entirely in the benchmark: it replaces the module
attributes of the entry points listed in ``ENTRY_POINTS`` with wrappers
that record a span and label the Spark jobs the call starts (through the
``spark.job.description`` local property). Nothing here imports Spark at
module level, so the parsing and attribution half is testable without it.
"""

from __future__ import annotations

import glob
import importlib
import itertools
import json
import os
import re
import sys
import threading
import time
from contextlib import contextmanager

# layer -> (module, public entry points); a span's layer is the first
# dotted component of its name
ENTRY_POINTS = {
    "io": ("heavy_hitters_spark.io.pages", ("pages_df",)),
    "fused": ("heavy_hitters_spark.spark.fused", ("build_token_sketch",)),
    "aggregate": (
        "heavy_hitters_spark.spark.aggregate",
        ("build_sketch", "partial_states", "windowed_partial_states", "tree_merge"),
    ),
    "queries": ("heavy_hitters_spark.queries", None),  # every public function
    "streaming": (
        "heavy_hitters_spark.streaming.sketch_stream",
        ("sketch_sink", "token_sketch_sink", "windowed_sketch_sink", "merged_sketch"),
    ),
    "functions": (
        "heavy_hitters_spark.functions.dedup",
        (
            "dedup_exact",
            "jaccard_pairs",
            "hot_bucket_stats",
            "near_dup_pairs_minhash",
            "near_dup_pairs_simhash",
            "near_dup_groups",
        ),
    ),
    "functions.similarity": ("heavy_hitters_spark.functions.similarity", ("cosine_near_dup_pairs",)),
}
LAYERS = ("session", "io", "core", "hh", "fused", "aggregate", "queries", "streaming", "functions")
DESC_KEY = "spark.job.description"
_LABEL = re.compile(r"perfbench span=(\d+) ")
_STREAM_KEY = "sql.streaming.queryId"
_BATCH_KEY = "streaming.sql.batchId"


def layer_of(name: str) -> str | None:
    head = name.split(".", 1)[0]
    return head if head in LAYERS else None


class Tracer:
    """In-memory span recorder. ``op`` is the index of the timed operation
    in progress (None during set-up and warm-up)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread().ident
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        """Record a span; the caller may add fields to the yielded dict."""
        from pyspark import SparkContext

        st = self._stack()
        sid = next(self._ids)
        parent = st[-1] if st else None
        sc = SparkContext._active_spark_context
        prev = None
        if sc is not None:
            prev = sc.getLocalProperty(DESC_KEY)
            sc.setLocalProperty(DESC_KEY, f"perfbench span={sid} {name}")
        st.append(sid)
        rec = {"id": sid, "parent": parent, "name": name, "op": self.op,
               "main_thread": threading.get_ident() == self._main}
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            st.pop()
            if sc is not None:
                sc.setLocalProperty(DESC_KEY, prev)
            self.spans.append(rec)

    def _wrapper(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                # builds return (sketch, metrics): keep the metrics
                if isinstance(out, tuple) and len(out) == 2 and isinstance(out[1], dict):
                    rec["metrics"] = out[1]
                return out

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        """Wrap every entry point, in its module and wherever another
        library module (or ``__spark_entry__``) imported it by name."""
        import inspect

        modules = {key: importlib.import_module(modname) for key, (modname, _) in ENTRY_POINTS.items()}
        holders = [
            m
            for n, m in list(sys.modules.items())
            if m is not None and (n.startswith("heavy_hitters_spark") or n == "__spark_entry__")
        ]
        for key, (modname, names) in ENTRY_POINTS.items():
            mod = modules[key]
            if names is None:
                names = [
                    a
                    for a, f in vars(mod).items()
                    if not a.startswith("_") and inspect.isfunction(f) and f.__module__ == modname
                ]
            layer = key.split(".", 1)[0]
            for attr in names:
                fn = getattr(mod, attr)
                wrapped = self._wrapper(fn, f"{layer}.{attr}")
                for holder in holders:
                    for k, v in list(vars(holder).items()):
                        if v is fn:
                            setattr(holder, k, wrapped)
                            self._patched.append((holder, k, fn))

    def uninstall(self) -> None:
        for holder, k, fn in reversed(self._patched):
            setattr(holder, k, fn)
        self._patched.clear()


# ----------------------------------------------------------------------
# span arithmetic


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time in seconds: the span's duration minus the part
    of its interval that its direct children cover (overlapping children
    are counted once)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def span_layer(span_id: int | None, by_id: dict[int, dict]) -> str | None:
    """Layer of the innermost span, walking up to the nearest ancestor
    whose name names a layer."""
    while span_id is not None:
        s = by_id.get(span_id)
        if s is None:
            return None
        layer = layer_of(s["name"])
        if layer is not None:
            return layer
        span_id = s["parent"]
    return None


# ----------------------------------------------------------------------
# Spark event log (uncompressed, rolling: eventlog_v2_<app>/events_<n>_<app>)

_PY_ACCUMS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_recv_bytes",
}


def event_files(log_dir: str) -> list[str]:
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))

    def index(p: str) -> tuple[str, int]:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0)

    return sorted(files, key=index)


def load_jobs(log_dir: str) -> list[dict]:
    """Jobs of every application logged under ``log_dir``, each with its
    tasks' metrics. Times are epoch milliseconds."""
    jobs: dict[tuple[str, int], dict] = {}
    stage_job: dict[tuple[str, int], tuple[str, int]] = {}
    for path in event_files(log_dir):
        app = os.path.dirname(path)
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    key = (app, ev["Job ID"])
                    jobs[key] = {
                        "job_id": ev["Job ID"],
                        "submit_ms": ev["Submission Time"],
                        "end_ms": None,
                        "description": props.get(DESC_KEY) or "",
                        "stream_query": props.get(_STREAM_KEY),
                        "stream_batch": props.get(_BATCH_KEY),
                        "tasks": [],
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[(app, sid)] = key
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get((app, ev["Job ID"]))
                    if job is not None:
                        job["end_ms"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    key = stage_job.get((app, ev["Stage ID"]))
                    if key is not None:
                        jobs[key]["tasks"].append(_task(ev))
    return sorted(jobs.values(), key=lambda j: j["submit_ms"])


def _task(ev: dict) -> dict:
    info = ev.get("Task Info") or {}
    tm = ev.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    t = {
        "launch_ms": info.get("Launch Time", 0),
        "finish_ms": info.get("Finish Time", 0),
        "run_ms": tm.get("Executor Run Time", 0),
        "cpu_ms": tm.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": tm.get("JVM GC Time", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "spill_bytes": tm.get("Disk Bytes Spilled", 0),
    }
    for v in _PY_ACCUMS.values():
        t[v] = 0
    for acc in info.get("Accumulables") or []:
        field = _PY_ACCUMS.get(acc.get("Name"))
        if field is not None:
            t[field] += int(acc.get("Update") or 0)
    return t


def attribute(jobs: list[dict], spans: list[dict], ops: list[dict]) -> None:
    """Set ``layer``, ``span``, ``op`` and ``phase`` on every job.

    A micro-batch job of a streaming query belongs to ``streaming``. Any
    other job belongs to the innermost layer span open when it started:
    the span named in its description, or else the latest-starting span
    whose interval holds the submission time. ``op`` is the timed op the
    job ran in and ``phase`` the name of the op phase span
    (``<layer>.construct`` or ``<layer>.collect``) it started in, if any."""
    by_id = {s["id"]: s for s in spans}
    ordered = sorted(spans, key=lambda s: s["start"])
    phases = [s for s in ordered if s["name"].endswith((".construct", ".collect"))]
    for job in jobs:
        t = job["submit_ms"] / 1000.0
        m = _LABEL.match(job["description"])
        sid = int(m.group(1)) if m and int(m.group(1)) in by_id else None
        if sid is None:
            open_ = [s for s in ordered if s["start"] <= t <= s["end"] and s["main_thread"]]
            sid = open_[-1]["id"] if open_ else None
        job["span"] = sid
        job["layer"] = "streaming" if job["stream_query"] else (span_layer(sid, by_id) or "unattributed")
        job["op"] = next((i for i, o in enumerate(ops) if o["start"] <= t <= o["end"]), None)
        job["phase"] = next(
            (p["name"] for p in phases if p["op"] is not None and p["start"] <= t <= p["end"]), None
        )
