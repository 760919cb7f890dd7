"""End-to-end and per-layer metrics from a workload process's record.

A record (written by ``child.py``) holds the set-up timings and one entry
per timed op; a traced record adds the layer spans and the single-thread
layer rates. Per-layer metrics also use the Spark jobs of the traced run's
event log, attributed to layers by ``tracing.attribute``. Every metric is
returned with its sample count.
"""

from __future__ import annotations

import json
import statistics

from tracing import layer_of, self_times


def declared_units(benchmark_json: str) -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them; the metrics a run reports must match these names."""
    with open(benchmark_json) as f:
        decl = json.load(f)
    return (
        {m["name"]: m["unit"] for m in decl["end_to_end"]},
        {m["name"]: m["unit"] for m in decl["per_layer"]},
    )


def as_metrics(values: dict, units: dict) -> dict:
    if set(values) != set(units):
        raise ValueError(f"metrics {sorted(set(values) ^ set(units))} differ from BENCHMARK.json")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def tail(passes: list[list[float]]) -> dict:
    """The highest percentile of the op walls that still has at least ten
    samples above it, once that is p90 or more (100 samples). With fewer,
    that percentile would move with the op count, which changes with the
    host's speed; the slowest op of each pass is taken instead, median
    over the passes, marked by ``beyond`` < 10."""
    xs = sorted(w for p in passes for w in p)
    n = len(xs)
    if n >= 100:
        i = n - 11  # xs[i] has exactly xs[i+1:] (ten samples) above it
        return {"value": xs[i], "percentile": 100.0 * (i + 1) / n, "beyond": 10, "n": n}
    value = statistics.median(max(p) for p in passes) if passes else 0.0
    return {"value": value, "percentile": None, "beyond": 0, "n": n, "rule": "median of pass maxima"}


def by_pass(ops: list[dict]) -> list[list[dict]]:
    """The ops grouped by the pass they ran in."""
    out: dict[int, list[dict]] = {}
    for o in ops:
        out.setdefault(o["pass"], []).append(o)
    return list(out.values())


def steal_share(ops: list[dict]) -> float:
    """Share of the CPU time the host's processes wanted during the ops
    that the hypervisor gave to other guests: the noise floor of a run."""
    stolen = sum(o["stolen_ticks"] for o in ops)
    wanted = stolen + sum(o["busy_ticks"] for o in ops)
    return stolen / wanted if wanted else 0.0


def error_rate(ops: list[dict]) -> float:
    return sum(1 for o in ops if o["error"]) / len(ops) if ops else 0.0


def rss_summary(samples: list[tuple[float, int, int]], t0: float, t1: float) -> dict:
    """Resident memory of a workload's process tree from (time, JVM bytes,
    Python bytes) samples: peaks over the whole process life and medians
    over the timed ops [t0, t1], in MiB."""
    timed = [s for s in samples if t0 <= s[0] <= t1] or samples[-1:]
    mib = 2**20
    return {
        "peak": max(j + p for _, j, p in samples) / mib,
        "peak_jvm": max(j for _, j, _ in samples) / mib,
        "peak_python": max(p for _, _, p in samples) / mib,
        "timed_p50": statistics.median(j + p for _, j, p in timed) / mib,
        "timed_p50_jvm": statistics.median(j for _, j, _ in timed) / mib,
        "timed_p50_python": statistics.median(p for _, _, p in timed) / mib,
        "samples": len(samples),
        "timed_samples": len(timed),
    }


def end_to_end(record: dict) -> tuple[dict, dict]:
    """(metric -> value, metric -> sample count) for one workload process.

    Rates are medians over the run's passes, so that a pass slowed by the
    host does not move them: ops per second of op wall, and documents
    (``build``: per second of build wall, the battery excluded; a failed
    op folds none)."""
    ops = record["ops"]
    passes = by_pass(ops)

    def wall(o):
        return o["end"] - o["start"]

    t = tail([[wall(o) for o in p] for p in passes])
    values = {
        "setup_s": record["setup"]["setup_s"],
        "docs_per_s": statistics.median(
            sum(o["docs"] for o in p) / sum(o.get("build_s", wall(o)) for o in p) for p in passes
        ),
        "queries_per_s": statistics.median(len(p) / sum(wall(o) for o in p) for p in passes),
        "latency_p50_s": statistics.median(wall(o) for o in ops),
        "latency_tail_s": t["value"],
        "rss_p50_mb": record["rss_mb"]["timed_p50"],
    }
    samples = {k: len(ops) for k in values}
    samples.update(setup_s=1, rss_p50_mb=record["rss_mb"]["timed_samples"], docs_per_s=len(passes),
                   queries_per_s=len(passes))
    return values, samples


def layer_self_ms(spans: list[dict], n_ops: int) -> dict:
    """Self time per timed op of each layer: its spans' durations minus
    the time their child spans cover."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = layer_of(s["name"])
        if layer is not None and s["op"] is not None:
            out[layer] = out.get(layer, 0.0) + own[s["id"]] * 1e3 / n_ops
    return out


def _mean_per_op(total: float, n_ops: int) -> float:
    return total / n_ops if n_ops else 0.0


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(record: dict, jobs: list[dict], untraced: dict, traced: dict, nproc: int) -> tuple[dict, dict]:
    """(metric -> value, metric -> sample count) for a traced process.

    Durations, counts and bytes are per timed op (the run's total divided
    by its op count); first-task delays and task skew are medians over the
    jobs they describe. A layer that does not run in the workload reports
    0 with 0 samples. ``untraced`` and ``traced`` are the end-to-end values
    of the untraced and traced processes of the same run."""
    ops, spans = record["ops"], record["spans"]
    n = len(ops)
    values: dict[str, float] = {}
    samples: dict[str, int] = {}

    def put(name, value, count):
        values[name] = float(value)
        samples[name] = int(count)

    def spans_named(name):
        return [s for s in spans if s["name"] == name and s["op"] is not None]

    timed = [j for j in jobs if j["op"] is not None]

    def layer_jobs(layer):
        return [j for j in timed if j["layer"] == layer]

    def task_sum(js, field):
        return _mean_per_op(sum(t[field] for j in js for t in j["tasks"]), n)

    def first_task_delay(js):
        return [min(t["launch_ms"] for t in j["tasks"]) - j["submit_ms"] for j in js if j["tasks"]]

    setup_spans = {s["name"]: s["end"] - s["start"] for s in spans if s["op"] is None}
    put("session.start_s", setup_spans.get("session.start", 0.0), "session.start" in setup_spans)
    put("io.stage_s", setup_spans.get("io.stage", 0.0), "io.stage" in setup_spans)

    micro = record.get("micro") or {}
    for name in (
        "core.update_raw_mupd_per_s",
        "core.update_preagg_mupd_per_s",
        "core.merge_ms",
        "core.pack_ms",
        "core.unpack_ms",
        "core.state_bytes",
    ):
        put(name, micro.get(name, 0.0), name in micro)
    for span_name, metric in (
        ("core.query", "core.query_ms"),
        ("hh.query", "hh.query_ms"),
        ("fused.build_token_sketch", "fused.build_ms"),
        ("aggregate.build_sketch", "aggregate.build_sketch_ms"),
        ("queries.construct", "queries.construct_ms"),
        ("queries.collect", "queries.collect_ms"),
        ("streaming.merged_sketch", "streaming.merge_ms"),
        ("functions.construct", "functions.construct_ms"),
        ("functions.collect", "functions.collect_ms"),
    ):
        ss = spans_named(span_name)
        put(metric, _mean_per_op(sum((s["end"] - s["start"]) * 1e3 for s in ss), n), len(ss))

    fused = layer_jobs("fused")
    fused_tasks = [t for j in fused for t in j["tasks"]]
    put("fused.tasks", _mean_per_op(len(fused_tasks), n), len(fused))
    kernel = [s["metrics"]["wall_ms"] for s in spans_named("fused.build_token_sketch") if "metrics" in s]
    put("fused.kernel_ms", _mean_per_op(sum(kernel), n), len(kernel))
    delays = first_task_delay(fused)
    put("fused.first_task_delay_ms", _median(delays), len(delays))
    for field, metric in (
        ("py_start_ms", "fused.python_start_ms"),
        ("py_init_ms", "fused.python_init_ms"),
        ("py_run_ms", "fused.python_run_ms"),
        ("py_sent_bytes", "fused.python_bytes_sent"),
        ("py_recv_bytes", "fused.python_bytes_received"),
        ("cpu_ms", "fused.executor_cpu_ms"),
        ("gc_ms", "fused.jvm_gc_ms"),
    ):
        put(metric, task_sum(fused, field), len(fused_tasks))
    skews = [
        max(r) / statistics.median(r)
        for r in ([t["run_ms"] for t in j["tasks"]] for j in fused)
        if len(r) > 1 and statistics.median(r) > 0
    ]
    put("fused.task_skew", _median(skews), len(skews))
    one_thread = micro.get("fused.kernel_docs_per_s_1t", 0.0)
    put("fused.kernel_docs_per_s_1t", one_thread, "fused.kernel_docs_per_s_1t" in micro)
    eff = untraced["docs_per_s"] / (nproc * one_thread) if one_thread else 0.0
    put("fused.parallel_efficiency", eff, 1 if one_thread else 0)

    # DirFold tail: from the last build task's end to the build's return
    tails = []
    for s in spans_named("fused.build_token_sketch"):
        finishes = [t["finish_ms"] for j in fused if j["span"] == s["id"] for t in j["tasks"]]
        if finishes:
            tails.append(s["end"] * 1e3 - max(finishes))
    put("aggregate.fold_tail_ms", _median(tails), len(tails))

    agg = layer_jobs("aggregate")
    put("aggregate.jobs", _mean_per_op(len(agg), n), len(agg))
    put("aggregate.python_init_ms", task_sum(agg, "py_init_ms"), len(agg))
    put("aggregate.python_run_ms", task_sum(agg, "py_run_ms"), len(agg))

    q = layer_jobs("queries")
    eager = [j for j in timed if j["phase"] == "queries.construct"]
    put("queries.eager_jobs", _mean_per_op(len(eager), n), len(spans_named("queries.construct")))
    delays = first_task_delay(q)
    put("queries.first_task_delay_ms", _median(delays), len(delays))
    put("queries.shuffle_bytes", task_sum(q, "shuffle_write_bytes"), len(q))

    stream = layer_jobs("streaming")
    by_query: dict[str, list[dict]] = {}
    for j in stream:
        by_query.setdefault(j["stream_query"], []).append(j)
    sink = sum(max(j["end_ms"] or j["submit_ms"] for j in js) - min(j["submit_ms"] for j in js)
               for js in by_query.values())
    put("streaming.sink_ms", _mean_per_op(sink, n), len(by_query))
    batches = {(j["stream_query"], j["stream_batch"]) for j in stream}
    put("streaming.batches", _mean_per_op(len(batches), n), len(by_query))

    fn = layer_jobs("functions")
    put("functions.jobs", _mean_per_op(len(fn), n), len(fn))
    for field, metric in (
        ("shuffle_write_bytes", "functions.shuffle_bytes"),
        ("fetch_wait_ms", "functions.shuffle_fetch_wait_ms"),
        ("spill_bytes", "functions.spill_bytes"),
        ("py_run_ms", "functions.python_run_ms"),
        ("py_recv_bytes", "functions.python_bytes_received"),
    ):
        put(metric, task_sum(fn, field), len(fn))
    fn_ops = [o for o in ops if o.get("layer") == "functions"]
    put("functions.output_rows", _mean_per_op(sum(o["rows"] for o in fn_ops), n), len(fn_ops))

    tasks = [t for j in timed for t in j["tasks"]]
    put("engine.jobs", _mean_per_op(len(timed), n), n)
    put("engine.tasks", _mean_per_op(len(tasks), n), n)
    busy_ms = sum((o["end"] - o["start"]) * 1e3 for o in ops) * nproc
    put("engine.cpu_busy_frac", sum(t["cpu_ms"] for t in tasks) / busy_ms if busy_ms else 0.0, len(tasks))
    put("trace.overhead_frac", traced["latency_p50_s"] / untraced["latency_p50_s"] - 1.0, n)
    return values, samples
