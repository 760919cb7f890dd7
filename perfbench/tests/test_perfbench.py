"""Self-test of the benchmark's own arithmetic; needs no Spark session.

    python3 -m pytest perfbench/tests -q

Covers span self time, the ``latency_tail_s`` percentile rule, failed-op
counting, the output checks, and attribution of Spark jobs to layers on a
canned Spark 4.1 event log (``data/eventlog_v2_local-1``).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import report  # noqa: E402
import tracing  # noqa: E402


def span(sid, name, start, end, parent=None, op=None, main_thread=True):
    return {"id": sid, "parent": parent, "name": name, "start": start, "end": end,
            "op": op, "main_thread": main_thread}


def test_self_time_subtracts_children_once():
    spans = [
        span(1, "queries.construct", 0.0, 10.0),
        span(2, "aggregate.build_sketch", 1.0, 4.0, parent=1),
        span(3, "aggregate.tree_merge", 3.0, 6.0, parent=1),  # overlaps child 2
        span(4, "fused.build_token_sketch", 8.0, 12.0, parent=1),  # runs past its parent
        span(5, "aggregate.partial_states", 1.5, 2.0, parent=2),
    ]
    st = tracing.self_times(spans)
    assert st[1] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 8.0))
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(0.5)


def test_layer_self_time_per_op():
    spans = [
        span(1, "queries.construct", 0.0, 1.0, op=0),
        span(2, "aggregate.build_sketch", 0.2, 0.6, parent=1, op=0),
        span(3, "queries.collect", 1.0, 1.5, op=0),
        span(4, "session.start", -5.0, -1.0),  # set-up, not an op
    ]
    assert report.layer_self_ms(spans, n_ops=2) == pytest.approx({"queries": 550.0, "aggregate": 200.0})


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    walls = [float(i) for i in range(1, 121)]
    t = report.tail([walls[60:], walls[:60]])
    assert t == {"value": 110.0, "percentile": pytest.approx(100 * 110 / 120), "beyond": 10, "n": 120}
    assert sum(1 for x in walls if x > t["value"]) == 10
    t = report.tail([[float(i) for i in range(1, 101)]])
    assert (t["value"], t["percentile"], t["beyond"]) == (90.0, 90.0, 10)


def test_tail_without_enough_samples_is_the_median_pass_maximum():
    # under 100 samples the (n-10)/n percentile would fall under p90
    t = report.tail([[2.0, 5.0], [3.0, 1.0], [4.0, 0.5]])
    assert (t["value"], t["beyond"], t["n"]) == (4.0, 0, 6)
    t = report.tail([[float(i)] for i in range(1, 100)])
    assert (t["value"], t["beyond"]) == (50.0, 0)


def test_error_counting():
    ops = [{"error": None}, {"error": "count-min: 1 probes under exact"}, {"error": None},
           {"error": "ValueError: boom"}]
    assert report.error_rate(ops) == 0.5
    assert report.error_rate([]) == 0.0


def test_steal_share_over_the_timed_ops():
    ops = [{"busy_ticks": 300, "stolen_ticks": 100}, {"busy_ticks": 100, "stolen_ticks": 0}]
    assert report.steal_share(ops) == pytest.approx(100 / 500)
    assert report.steal_share([{"busy_ticks": 0, "stolen_ticks": 0}]) == 0.0


def test_end_to_end_from_a_record():
    record = {
        "workload": "queries",
        "setup": {"setup_s": 12.5},
        "ops": [
            {"pass": 1, "start": 100.0, "end": 101.0, "docs": 5000, "error": None},
            {"pass": 1, "start": 101.0, "end": 103.0, "docs": 100000, "error": None},
            {"pass": 2, "start": 103.0, "end": 103.5, "docs": 5000, "error": "x"},
            {"pass": 2, "start": 103.5, "end": 104.0, "docs": 100000, "error": None},
            {"pass": 3, "start": 104.0, "end": 108.0, "docs": 100000, "error": None},
            {"pass": 3, "start": 108.0, "end": 109.0, "docs": 5000, "error": None},
        ],
        "rss_mb": {"timed_p50": 3.0, "timed_samples": 7},
    }
    values, samples = report.end_to_end(record)
    assert values["setup_s"] == 12.5
    # per pass: 2/3, 2/1 and 2/5 ops per second of op wall
    assert values["queries_per_s"] == pytest.approx(2 / 3)
    assert values["docs_per_s"] == pytest.approx(105000 / 3)
    assert values["latency_p50_s"] == 1.0
    assert values["latency_tail_s"] == 2.0  # pass maxima 2.0, 0.5 and 4.0
    assert values["rss_p50_mb"] == 3.0
    assert samples["rss_p50_mb"] == 7 and samples["latency_p50_s"] == 6 and samples["queries_per_s"] == 3


def test_rss_medians_cover_the_timed_ops_only():
    mib = 2**20
    samples = [(0.0, 100 * mib, 10 * mib), (1.0, 200 * mib, 900 * mib), (2.0, 300 * mib, 20 * mib),
               (3.0, 300 * mib, 20 * mib), (4.0, 50 * mib, 5 * mib)]
    r = report.rss_summary(samples, 0.5, 3.5)
    assert (r["peak"], r["peak_jvm"], r["peak_python"]) == (1100.0, 300.0, 900.0)
    assert (r["timed_p50"], r["timed_p50_jvm"], r["timed_p50_python"]) == (320.0, 300.0, 20.0)
    assert (r["samples"], r["timed_samples"]) == (5, 3)


def test_checks_accept_within_bounds_and_reject_outside():
    ids = np.array([5, 9, 13], dtype=np.uint64)
    counts = np.array([100, 40, 7])
    # slack (e/16)*147 = 24.97
    assert checks.check_cm([100, 64, 7], counts, l1=147, width=16) is None
    assert "over exact" in checks.check_cm([100, 65, 7], counts, l1=147, width=16)
    assert "under exact" in checks.check_cm([99, 40, 7], counts, l1=147, width=16)
    assert checks.check_hll(1010.0, 1000, 0.01) is None
    assert checks.check_hll(1040.0, 1000, 0.01) is not None
    # MG with decrement 8: 13 (count 7) may be absent, 9 (count 40) may not
    assert checks.check_mg(np.array([5, 9], np.uint64), np.array([95, 33]), 8, ids, counts) is None
    assert checks.check_mg(np.array([5], np.uint64), np.array([95]), 8, ids, counts) is not None
    assert checks.check_hh(np.array([5], np.uint64), ids, counts, 147, phi=0.5, eps=0.1) is None
    assert checks.check_hh(np.array([5, 13], np.uint64), ids, counts, 147, phi=0.5, eps=0.1) is not None


def test_kll_check_uses_the_exact_rank_interval():
    ids = np.arange(1, 101, dtype=np.uint64)
    counts = np.ones(100, np.int64)
    assert checks.check_kll([50.0, 90.0], [0.5, 0.9], ids, counts, eps=0.01) is None
    assert checks.check_kll([55.0], [0.5], ids, counts, eps=0.01) is not None


def test_compare_oracle_reports_the_first_difference():
    def canon(df):
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    want = pd.DataFrame({"token": ["a", "b"], "freq": [3, 2]})
    assert checks.compare_oracle(canon, want.iloc[::-1].copy(), want) is None
    assert "rows" in checks.compare_oracle(canon, want.iloc[:1], want)
    assert "values differ" in checks.compare_oracle(canon, pd.DataFrame({"token": ["a", "b"], "freq": [3, 1]}), want)


# spans matching the canned event log (times in seconds; the log is in ms)
SPANS = [
    span(1, "session.start", 990.0, 995.0),
    span(2, "queries.construct", 1000.0, 1000.9, op=0),
    span(3, "fused.build_token_sketch", 1000.05, 1000.8, parent=2, op=0),
    span(4, "queries.construct", 1001.1, 1002.5, op=1),
    span(5, "streaming.token_sketch_sink", 1001.15, 1001.16, parent=4, op=1),
    span(6, "queries.collect", 1002.5, 1003.0, op=1),
]
SPANS[2]["metrics"] = {"wall_ms": 700.0, "n_rows": 5000}  # as the fused wrapper keeps them
OPS = [
    {"name": "topk_tokens", "start": 1000.0, "end": 1001.0, "rows": 20, "error": None},
    {"name": "topk_tokens_stream", "start": 1001.1, "end": 1003.0, "rows": 20, "error": None},
]


def canned_jobs():
    jobs = tracing.load_jobs(os.path.join(HERE, "data"))
    tracing.attribute(jobs, SPANS, OPS)
    return {j["job_id"]: j for j in jobs}


def test_event_log_parsing():
    jobs = canned_jobs()
    assert sorted(jobs) == [0, 1, 2, 3]
    t0, t1 = jobs[0]["tasks"]
    assert (t0["py_init_ms"], t0["py_run_ms"], t0["py_recv_bytes"], t0["py_sent_bytes"]) == (40, 200, 64, 1000)
    assert t1["cpu_ms"] == 400.0 and t1["run_ms"] == 560
    assert jobs[1]["stream_query"] == "q-1" and jobs[1]["tasks"][0]["shuffle_write_bytes"] == 2048


def test_jobs_attributed_to_innermost_layer_span():
    jobs = canned_jobs()
    # labelled by its description: the fused span, inside op 0's construction
    assert (jobs[0]["layer"], jobs[0]["span"], jobs[0]["op"], jobs[0]["phase"]) == (
        "fused", 3, 0, "queries.construct")
    # a micro-batch belongs to streaming whatever span is open
    assert (jobs[1]["layer"], jobs[1]["op"], jobs[1]["phase"]) == ("streaming", 1, "queries.construct")
    # unlabelled: the innermost span open at submission
    assert (jobs[2]["layer"], jobs[2]["span"], jobs[2]["op"], jobs[2]["phase"]) == (
        "queries", 6, 1, "queries.collect")
    # set-up job outside every span and op
    assert (jobs[3]["layer"], jobs[3]["op"]) == ("unattributed", None)


def test_per_layer_metrics_on_canned_log():
    jobs = list(canned_jobs().values())
    record = {"workload": "queries", "ops": OPS, "spans": SPANS}
    e2e = {"latency_p50_s": 1.0, "docs_per_s": 1.0}
    values, samples = report.per_layer(record, jobs, e2e, {"latency_p50_s": 1.1, "docs_per_s": 1.0}, nproc=4)
    assert values["session.start_s"] == pytest.approx(5.0)
    assert values["fused.python_init_ms"] == pytest.approx((40 + 50) / 2)
    assert values["fused.kernel_ms"] == pytest.approx(700.0 / 2)
    assert values["fused.first_task_delay_ms"] == 10
    assert values["fused.task_skew"] == pytest.approx(560 / 420)
    assert values["aggregate.fold_tail_ms"] == pytest.approx(1000800 - 1000700, abs=1e-3)
    assert values["queries.eager_jobs"] == pytest.approx(2 / 2)
    assert values["queries.shuffle_bytes"] == pytest.approx(4096 / 2)
    assert values["streaming.batches"] == pytest.approx(1 / 2)
    assert values["streaming.sink_ms"] == pytest.approx(110 / 2)
    assert values["engine.jobs"] == pytest.approx(3 / 2)
    assert values["engine.cpu_busy_frac"] == pytest.approx(660 / ((1.0 + 1.9) * 1e3 * 4))
    assert values["trace.overhead_frac"] == pytest.approx(0.1)
    assert values["functions.jobs"] == 0 and samples["functions.jobs"] == 0
    assert values["functions.output_rows"] == 0
    # output rows count the ops whose query is a pair kernel
    record["ops"] = [OPS[0], dict(OPS[1], layer="functions")]
    values, samples = report.per_layer(record, jobs, e2e, e2e, nproc=4)
    assert (values["functions.output_rows"], samples["functions.output_rows"]) == (20 / 2, 1)


def test_failed_build_op_folds_no_documents():
    record = {
        "workload": "build",
        "setup": {"setup_s": 20.0},
        "ops": [
            {"pass": 1, "start": 0.0, "end": 3.0, "docs": 200_000, "build_s": 2.5, "error": None},
            {"pass": 2, "start": 3.0, "end": 4.0, "docs": 0, "error": "Py4JJavaError: lost task"},
            {"pass": 3, "start": 4.0, "end": 6.5, "docs": 200_000, "build_s": 2.0, "error": None},
        ],
    }
    values, _ = report.end_to_end(dict(record, rss_mb={"timed_p50": 1.0, "timed_samples": 1}))
    # median of 80k, 0 and 100k docs/s: the failed build counts as folding none
    assert values["docs_per_s"] == pytest.approx(200_000 / 2.5)
    assert values["queries_per_s"] == pytest.approx(1 / 2.5)


def test_tracer_wraps_entry_points_wherever_imported():
    sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
    import heavy_hitters_spark.queries as queries
    import heavy_hitters_spark.spark as spark_pkg

    original = queries.build_token_sketch
    tracer = tracing.Tracer()
    tracer.install()
    try:
        assert queries.build_token_sketch.__wrapped__ is original
        assert spark_pkg.build_sketch.__wrapped__ is queries.build_sketch.__wrapped__
        with tracer.span("queries.construct") as outer:
            with tracer.span("core.query"):
                pass
        inner, outer_rec = tracer.spans
        assert inner["parent"] == outer["id"] == outer_rec["id"] and outer_rec["end"] >= inner["end"]
    finally:
        tracer.uninstall()
    assert queries.build_token_sketch is original
