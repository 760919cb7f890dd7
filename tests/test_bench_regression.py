"""Regression-gate plumbing in bench.py: the previous-round walls must
load from the DRIVER's BENCH_r{N}.json shape ({n, rc, ..., tail,
parsed}) — not just this script's own output — including the round-3
degenerate case where ``parsed`` is null because the stdout tail window
clipped the head of the JSON line. A vacuous baseline made every
"regressions > 1.5x" row trivially empty (VERDICT r03 'What's wrong' #1).
"""

import json

import bench


def _own_line(queries):
    return json.dumps(
        {"metric": "sketch_build_and_query_suite", "value": 1.0, "unit": "sec",
         "queries": queries, "sf": "/root/testdata/sf0.1"}
    )


def test_walls_from_driver_parsed_record(tmp_path):
    q = {"topk_tokens": 1.2, "simhash_pairs": 3.3}
    rec = {"n": 2, "rc": 0, "cpus": 32, "sf": 0.1, "tail": "...",
           "parsed": {"metric": "x", "queries": q}}
    (tmp_path / "BENCH_r2.json").write_text(json.dumps(rec))
    name, walls = bench.previous_query_walls(str(tmp_path))
    assert name == "BENCH_r2.json"
    assert walls == q


def test_walls_from_tail_full_line(tmp_path):
    q = {"topk_tokens": 1.2, "lang_id": 2.0}
    rec = {"n": 2, "rc": 0, "tail": "noise\r" + _own_line(q), "parsed": None}
    (tmp_path / "BENCH_r1.json").write_text(json.dumps(rec))
    _, walls = bench.previous_query_walls(str(tmp_path))
    assert walls == q


def test_walls_from_head_truncated_tail(tmp_path):
    # round-3 shape: the tail window starts MID-queries-dict
    tail = ('.064, "above_threshold_cm": 1.22, "simhash_pairs": 2.503}, '
            '"sf": "/root/testdata/sf0.1", "pages_rows": 200000}')
    rec = {"n": 3, "rc": 0, "tail": tail, "parsed": None}
    (tmp_path / "BENCH_r3.json").write_text(json.dumps(rec))
    _, walls = bench.previous_query_walls(str(tmp_path))
    assert walls["above_threshold_cm"] == 1.22
    assert walls["simhash_pairs"] == 2.503


def test_latest_round_wins(tmp_path):
    for n, w in [(1, 9.0), (10, 5.0), (2, 7.0)]:
        rec = {"parsed": {"queries": {"q": w}}, "tail": ""}
        (tmp_path / f"BENCH_r{n}.json").write_text(json.dumps(rec))
    name, walls = bench.previous_query_walls(str(tmp_path))
    assert name == "BENCH_r10.json"
    assert walls == {"q": 5.0}


def test_regression_flagged_end_to_end(tmp_path):
    """A 2x-slower query MUST land in the regressions row when the
    baseline is a driver-format record (the exact failure mode the
    round-3 gate missed: simhash_pairs 22.2s vs 3.3s went unflagged)."""
    rec = {"n": 2, "rc": 0, "parsed": {"queries": {"simhash_pairs": 3.3, "lang_id": 2.0}},
           "tail": ""}
    (tmp_path / "BENCH_r2.json").write_text(json.dumps(rec))
    _, prev = bench.previous_query_walls(str(tmp_path))
    now = {"simhash_pairs": 22.2, "lang_id": 1.9}
    reg = bench.compute_regressions(now, prev)
    assert set(reg) == {"simhash_pairs"}
    assert reg["simhash_pairs"]["prev"] == 3.3
    assert reg["simhash_pairs"]["ratio"] == 6.73


def test_no_false_regressions():
    assert bench.compute_regressions({"a": 1.0}, {"a": 0.9}) == {}
    assert bench.compute_regressions({"a": 1.0}, {}) == {}
    assert bench.compute_regressions({"a": 1.0}, {"a": -1.0}) == {}


def test_merged_baseline_catches_early_alphabet_regression(tmp_path):
    """VERDICT r04 'wrong' #1 end-to-end: a head-truncated driver tail
    only preserves the late-alphabet suffix of the queries dict, so a
    3.7x wall jump in jaccard_pairs (early alphabet) was invisible to
    the gate. baseline_walls must fill the gap from BENCH/last_run.json
    and the merged baseline must flag the regression."""
    tail = ('.064, "simhash_pairs": 2.503}, '
            '"sf": "/root/testdata/sf0.1", "pages_rows": 200000}')
    (tmp_path / "BENCH_r4.json").write_text(json.dumps({"tail": tail, "parsed": None}))
    bdir = tmp_path / "BENCH"
    bdir.mkdir()
    (bdir / "last_run.json").write_text(json.dumps(
        {"queries": {"jaccard_pairs": 3.01, "simhash_pairs": 99.0, "lang_id": 1.66}}
    ))
    desc, walls, sources = bench.baseline_walls(str(tmp_path))
    # BENCH_r4 wins where present; last_run fills the truncated head
    assert walls["simhash_pairs"] == 2.503
    assert walls["jaccard_pairs"] == 3.01
    assert walls["lang_id"] == 1.66
    assert sources["jaccard_pairs"] == "BENCH/last_run.json"
    assert sources["simhash_pairs"] == "BENCH_r4.json"
    assert "BENCH_r4.json" in desc and "last_run" in desc
    reg = bench.compute_regressions({"jaccard_pairs": 11.06, "simhash_pairs": 2.6}, walls)
    assert set(reg) == {"jaccard_pairs"}


def test_baseline_fills_from_baseline_md(tmp_path):
    (tmp_path / "BENCH_r4.json").write_text(
        json.dumps({"parsed": {"queries": {"topk_tokens": 1.2}}, "tail": ""})
    )
    bdir = tmp_path / "BENCH"
    bdir.mkdir()
    (bdir / "BASELINE.md").write_text(
        "## bench run x\n\n| a | b |\n|---|---|\n"
        '| query timings (sec) | {"topk_tokens": 9.9, "lang_id": 1.5} |\n'
    )
    _, walls, sources = bench.baseline_walls(str(tmp_path))
    assert walls == {"topk_tokens": 1.2, "lang_id": 1.5}
    assert sources["lang_id"] == "BENCH/BASELINE.md"


def test_tail_scrape_ignores_record_fields():
    """ADVICE r04 #4: the head-truncated regex fallback must not let
    record-level numeric fields (e.g. a partial top-level number before
    the first '}') into the walls dict."""
    tail = ('.064, "above_threshold_cm": 1.22, "value": 120.5, '
            '"simhash_pairs": 2.503}, "sf": "/root/testdata/sf0.1"}')
    walls = bench._extract_query_walls({"tail": tail, "parsed": None})
    assert walls == {"above_threshold_cm": 1.22, "simhash_pairs": 2.503}


def test_round_sanity_gate():
    """Pre-registered round-5 gate (VERDICT r04 'wrong' #2): the
    physically impossible 1.019 efficiency draw and phase-straddling
    lo brackets must both be rejected; normal rounds pass."""
    ok, _ = bench.round_sanity(0.81, 25.0, 26.0)
    assert ok
    ok, why = bench.round_sanity(1.019, 25.0, 26.0)  # the r4 draw
    assert not ok and "outside" in why
    ok, why = bench.round_sanity(0.25, 25.0, 26.0)
    assert not ok and "outside" in why
    ok, why = bench.round_sanity(0.81, 20.0, 26.0)  # 30% bracket spread
    assert not ok and "disagree" in why
    ok, _ = bench.round_sanity(0.81, 26.0, 20.0)  # symmetric in order
    assert not ok
    # boundary cases stay valid
    assert bench.round_sanity(1.0, 25.0, 25.0)[0]
    assert bench.round_sanity(0.3, 20.0, 25.0)[0]


def test_main_end_to_end_with_stubbed_runs(tmp_path, monkeypatch, capsys):
    """Full main() aggregation/record path over canned round results —
    the round-5 official run crashed AFTER 50 minutes of measurement on
    a stale tuple access in the record-writing tail; this pins the
    whole tail (gates, medians, record JSON, BASELINE.md append)
    without Spark."""
    bdir = tmp_path / "BENCH"
    bdir.mkdir()
    monkeypatch.setattr(bench, "BENCH_DIR", str(bdir))
    monkeypatch.setattr(bench, "ensure_pages", lambda: None)
    # main() derives its levels from CPUS; 32 gives local[2] vs local[8],
    # the levels fake_run tells apart, on any host
    monkeypatch.setattr(bench, "CPUS", 32)
    calls = {"n": 0}

    def fake_run(master, with_phases=False, n_timed=4):
        calls["n"] += 1
        lo = "local[2]" in master or master.endswith("[2]")
        wall = 16.0 + 0.1 * calls["n"] if lo else 4.9
        return {
            "master": master, "calib_sec": 0.05, "wall_sec": wall,
            "wall_all": [round(wall, 2), round(wall + 0.1, 2)],
            "docs": 200000, "docs_per_sec": 200000 / wall,
            "updates": 12345678, "updates_per_sec": 12345678 / wall,
            "hll_distinct_est": 1000.0,
            "phases": {"create_sec": 0.1} if with_phases else None,
        }

    monkeypatch.setattr(bench, "build_run_subprocess", fake_run)
    monkeypatch.setattr(bench, "time_queries", lambda: {"topk_tokens": 1.2, "lang_id": 9.9})
    monkeypatch.setattr(
        bench, "baseline_walls",
        lambda here=None: ("BENCH_r4.json", {"topk_tokens": 1.1, "lang_id": 1.5},
                           {"topk_tokens": "BENCH_r4.json", "lang_id": "BENCH_r4.json"}),
    )
    bench.main()
    line = [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("{")][-1]
    rec = json.loads(line)
    assert rec["scaling_efficiency_n_to_4n"] > 0
    assert rec["regressions_baseline_coverage"] == "2/2"
    assert set(rec["regressions"]) == {"lang_id"}
    # 7 = the pre-registered round-5 round-count amendment
    assert len(rec["rounds_valid"]) == len(rec["rounds_sanity_ok"]) == 7
    full = json.loads((bdir / "last_run.json").read_text())
    assert full["lo_brackets"] and full["regressions_baseline_sources"]
    assert "query timings" in (bdir / "BASELINE.md").read_text()
