"""bench.py contract: the driver parses exactly one JSON line from
stdout — rounds 1 and 2 were lost to an unparseable/crashing bench, so
this is pinned as a test (run at sf0.001 to keep it fast)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_emits_one_parseable_json_line():
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=540,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.strip().startswith("{")]
    # two JSON lines: diagnostics (method/spread) then the result —
    # the RESULT must be last, since the driver parses the final line
    assert len(lines) == 2, out.stdout[-2000:]
    diag = json.loads(lines[0])
    assert "spread_max_minus_min" in diag
    assert "minmax" in diag  # per-query [min, max] of the 3 timed runs
    doc = json.loads(lines[1])
    assert doc["metric"] == "headline_queries_total_wall"
    assert doc["unit"] == "sec" and doc["value"] > 0
    assert doc["sf"] == 0.001
    # drift sidecar on the RESULT line (r10 verdict #6): loadavg +
    # aggregate spread travel with the number the judge reads
    assert "load" in doc and "spr" in doc
    # every headline query produced a timing (no silent drops)
    assert "errors" not in doc, doc.get("errors")
    assert len(doc["queries"]) >= 20
    # driver-tail contract: the driver keeps only the LAST 2000 chars of
    # stdout and parses the final line within it — round 5's bench went
    # unparsed because the result line outgrew that window. Re-enact the
    # driver's capture to pin the fix.
    tail = out.stdout[-2000:]
    last = [l for l in tail.splitlines() if l.strip()][-1]
    assert json.loads(last)["metric"] == "headline_queries_total_wall"


def test_choose_result_line_ladder_is_monotone():
    """The tail-window fallback ladder degrades monotonically (ADVICE
    r12): a line that fits at 1-decimal-without-drift must be chosen
    over the empty-timings last resort — the old ladder reverted to
    2-decimal timings after the 1-decimal-with-drift step and lost all
    per-query numbers unnecessarily."""
    sys.path.insert(0, REPO)
    from bench import choose_result_line

    timings = {f"q{i:02d}": 1.234 for i in range(60)}
    drift = {"load": [9.99, 9.99, 9.99], "spr": 12.34, "sprq": "q00"}
    # generous budget: full detail (2-decimal + drift)
    full = json.loads(choose_result_line(75.0, 0.1, timings, {}, drift, 4000))
    assert full["queries"]["q00"] == 1.23 and "load" in full
    # budget sized so 2-decimal overflows, 1-decimal + drift overflows,
    # but 1-decimal WITHOUT drift fits: per-query numbers must survive
    t1_len = len(choose_result_line(75.0, 0.1, timings, {}, drift, 10**6))
    probe = json.dumps({
        "metric": "headline_queries_total_wall", "value": 75.0,
        "unit": "sec", "queries": {k: 1.2 for k in timings}, "sf": 0.1,
    })
    assert len(probe) < t1_len  # sanity: dropping drift shrinks the line
    mid = json.loads(
        choose_result_line(75.0, 0.1, timings, {}, drift, len(probe))
    )
    assert mid["queries"] == {k: 1.2 for k in timings}
    assert "load" not in mid
    # below any per-query budget: the parseable empty-timings last resort
    tiny = json.loads(choose_result_line(75.0, 0.1, timings, {}, drift, 50))
    assert tiny["queries"] == {}


def test_select_readjudication_no_loadavg_gate():
    """VERDICT r13 #1: the quiet-tail re-measure must trigger on ANY
    >1.3x-vs-prev query (no loadavg precondition), most-inflated first,
    budget-capped at 15."""
    sys.path.insert(0, REPO)
    from bench import select_readjudication

    prev = {f"q{i:02d}": 1.0 for i in range(30)}
    prev["zero"] = 0.0
    # 20 inflated (ratios 1.4..3.3), 10 quiet, one zero-prev, one new
    timings = {f"q{i:02d}": (1.4 + 0.1 * i if i < 20 else 1.0)
               for i in range(30)}
    timings["zero"] = 5.0   # zero prev: never flagged (no ratio)
    timings["newq"] = 9.0   # not in prev: never flagged
    flagged = select_readjudication(timings, prev)
    assert len(flagged) == 15          # budget cap
    assert flagged[0] == "q19"         # most inflated first
    assert flagged == [f"q{i:02d}" for i in range(19, 4, -1)]
    assert "zero" not in flagged and "newq" not in flagged
    # mild inflation below the 1.3x threshold is not flagged
    assert select_readjudication({"a": 1.2}, {"a": 1.0}) == []
    # a 1.5x outlier is flagged even in a "quiet" run (no load input at all)
    assert select_readjudication({"a": 1.5}, {"a": 1.0}) == ["a"]


def test_previous_round_queries_picks_newest_matching_sf(tmp_path):
    """Self-adjudication baseline: newest BENCH_r{N}.json with the SAME
    sf and the SAME cpus; non-matching sf or cpus, a wrapper without
    cpus, and unparseable files never contribute."""
    sys.path.insert(0, REPO)
    import bench

    def wrapper(cpus, sf, q1):
        w = {"parsed": {"sf": sf, "queries": {"q1": q1}}}
        return json.dumps(w if cpus is None else {"cpus": cpus, **w})

    old_repo = bench.REPO
    try:
        bench.REPO = str(tmp_path)
        (tmp_path / "BENCH_r03.json").write_text(wrapper(4, 0.1, 1.0))
        (tmp_path / "BENCH_r07.json").write_text(wrapper(4, 0.1, 2.0))
        (tmp_path / "BENCH_r08.json").write_text(wrapper(32, 0.1, 5.0))
        (tmp_path / "BENCH_r09.json").write_text(wrapper(4, 0.01, 9.0))
        (tmp_path / "BENCH_r10.json").write_text(wrapper(None, 0.1, 7.0))
        (tmp_path / "BENCH_r11.json").write_text("not json")
        # r08 (32 cpus) and r10 (no cpus) are newer than r07 but are
        # not 4-cpu runs
        assert bench.previous_round_queries(0.1, 4) == {"q1": 2.0}
        assert bench.previous_round_queries(0.01, 4) == {"q1": 9.0}
        assert bench.previous_round_queries(2.0, 4) == {}
        assert bench.previous_round_queries(0.1, 32) == {"q1": 5.0}
        assert bench.previous_round_queries(0.01, 32) == {}
        assert bench.previous_round_queries(0.1, 8) == {}
    finally:
        bench.REPO = old_repo
