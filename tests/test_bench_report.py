"""Bench report contract (VERDICT r10 wrong#4): the printed line must
lead with the regression instrument (queries map + core_total before
any fingerprint material) and the full report must go to the
committed artifact — so a truncated driver capture still yields every
per-query row to tools/compare_bench.py."""

from __future__ import annotations

import json
import sys


def test_emit_orders_line_and_writes_artifact(tmp_path, monkeypatch,
                                              capsys):
    import bench

    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    report = {"metric": "headline_total", "value": 1.0, "unit": "sec",
              "core_total": 0.5, "queries": {"q1": 0.1, "q2": 0.2},
              "sf": "x", "env": [{"start": {"big": "blob" * 100}}]}
    line_report = {**report, "env": [{"start": {"cpu_score_ms": 93.0}}]}
    bench._emit(report, line=line_report)
    out = capsys.readouterr().out.strip().splitlines()[-1]
    d = json.loads(out)
    keys = list(d)
    # queries + core_total precede env on the line (truncation-proof)
    assert keys.index("core_total") < keys.index("env")
    assert keys.index("queries") < keys.index("env")
    # the line carries the slim env, the artifact the full one;
    # with no BENCH_r*.json in the (tmp) repo root the round is 1
    assert d["env"] == [{"start": {"cpu_score_ms": 93.0}}]
    assert d["artifact"] == "artifacts/bench_r1.json"
    art = json.load(open(tmp_path / "artifacts" / "bench_r1.json"))
    assert art["env"][0]["start"]["big"] == "blob" * 100
    assert art["queries"] == {"q1": 0.1, "q2": 0.2}
    # bench_latest.json stays as the mutable convenience copy
    latest = json.load(open(tmp_path / "artifacts" / "bench_latest.json"))
    assert latest == art
    # the headline summary is named by round AND core count, so a run
    # on another core count cannot shadow it
    assert [p.name for p in tmp_path.glob("BENCH_SUMMARY_*")] == \
        ["BENCH_SUMMARY_r1_c4.json"]
    summary = json.load(open(tmp_path / "BENCH_SUMMARY_r1_c4.json"))
    assert summary["cpus"] == 4 and summary["round"] == 1


def test_emit_per_round_artifacts_are_immutable(tmp_path, monkeypatch,
                                                capsys):
    """VERDICT r11 wrong#1: a second same-round run must NOT replace
    the round's committed record — each _emit lands in a fresh file."""
    import bench

    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "12")
    first = {"metric": "headline_total", "value": 1.0, "unit": "sec",
             "queries": {"q1": 0.1}}
    second = {"metric": "headline_total", "value": 2.0, "unit": "sec",
              "queries": {"q1": 0.9}}
    bench._emit(first)
    bench._emit(second)
    lines = [json.loads(x) for x in
             capsys.readouterr().out.strip().splitlines()]
    assert lines[0]["artifact"] == "artifacts/bench_r12.json"
    assert lines[1]["artifact"] == "artifacts/bench_r12.2.json"
    a1 = json.load(open(tmp_path / "artifacts" / "bench_r12.json"))
    a2 = json.load(open(tmp_path / "artifacts" / "bench_r12.2.json"))
    assert a1["value"] == 1.0 and a2["value"] == 2.0  # both survive
    latest = json.load(open(tmp_path / "artifacts" / "bench_latest.json"))
    assert latest["value"] == 2.0  # convenience copy tracks the last run


def test_round_no_from_committed_bench_files(tmp_path, monkeypatch):
    import bench

    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    assert bench._round_no() == 1
    (tmp_path / "BENCH_r07.json").write_text("{}")
    (tmp_path / "BENCH_r11.json").write_text("{}")
    assert bench._round_no() == 12


def test_salvage_recovers_leading_queries_from_truncation():
    sys.path.insert(0, "tools")
    from compare_bench import _salvage

    line = json.dumps({"metric": "headline_total", "value": 9.9,
                       "unit": "sec", "core_total": 3.3,
                       "queries": {f"q{i}_name": 0.5 + i
                                   for i in range(60)},
                       "sf": "d", "sessions": {"n": 2, "min": 1.0}})
    rep = _salvage(line[:len(line) // 2])  # cut mid-queries
    assert len(rep["queries"]) >= 20
    assert rep["core_total"] == 3.3
    assert all(k.startswith("q") for k in rep["queries"])

def test_round_no_ignores_seq_suffixed_root_files(tmp_path, monkeypatch):
    """ADVICE r12: digit concatenation parsed BENCH_r12.2.json as
    round 122; the anchored regex must read it as round 12 and skip
    non-matching stems entirely."""
    import bench

    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    (tmp_path / "BENCH_r12.json").write_text("{}")
    (tmp_path / "BENCH_r12.2.json").write_text("{}")
    (tmp_path / "BENCH_report3.json").write_text("{}")  # no r\d+ prefix
    assert bench._round_no() == 13


def _fp(score=95.0, membw=6.0):
    return {"cpu_score_ms": score, "membw_gbps": membw}


def test_contention_reasons_synthetic_fingerprints():
    """VERDICT r12 next#3: the bench record self-identifies a
    contended window. Each threshold fires independently on a
    synthetic condensed-session env; a clean window fires none."""
    import bench

    clean = {"start": _fp(), "end": _fp(96.0), "steal_pct": 0.2}
    assert bench._contention_reasons(clean) == []

    stolen = {"start": _fp(), "end": _fp(), "steal_pct": 3.88}
    assert any("steal_pct" in r for r in
               bench._contention_reasons(stolen))

    drifted = {"start": _fp(90.0), "end": _fp(120.0), "steal_pct": 0.1}
    assert any("drift" in r for r in
               bench._contention_reasons(drifted))

    starved = {"start": _fp(membw=2.9), "end": _fp(), "steal_pct": 0.1}
    assert any("membw" in r for r in
               bench._contention_reasons(starved))

    # missing probes (old records, no numpy) must not flag
    sparse = {"start": {"cpu_score_ms": None, "membw_gbps": None},
              "end": {}, "steal_pct": None}
    assert bench._contention_reasons(sparse) == []


def test_run_session_report_carries_contended_flag(monkeypatch):
    """The single-session shape (the driver's usual capture) gets the
    flag computed from its own env_start/env_end — no fp_watch
    cross-check needed to distrust a noisy record."""
    import bench

    report = {"queries": {"q1": 0.1},
              "env_start": {"cpu_score_ms": 95.0, "membw_gbps": 6.1,
                            "cpu_jiffies": {"busy": 100, "total": 1000,
                                            "steal": 50}},
              "env_end": {"cpu_score_ms": 96.0, "membw_gbps": 6.0,
                          "cpu_jiffies": {"busy": 300, "total": 2000,
                                          "steal": 90}}}
    sess = bench._session_env(report)
    assert sess["steal_pct"] == 4.0  # (90-50)/(2000-1000)
    reasons = bench._contention_reasons(sess)
    assert reasons and any("steal" in r for r in reasons)


def test_compare_bench_refuses_cross_subset_value(capsys):
    """ADVICE r12: a core-only session's headline_total must not be
    ratio'd against a full session's; per-query ratios stay."""
    import importlib

    sys.path.insert(0, "tools")
    cb = importlib.import_module("compare_bench")

    old = {"subset": "headline", "value": 100.0, "core_total": 25.0,
           "queries": {"q1": 1.0, "q2": 2.0}}
    new = {"subset": "core", "value": 26.0, "core_total": 24.0,
           "queries": {"q1": 1.1, "q2": 1.9}, "contended": True,
           "contended_reasons": ["steal_pct 3.9 > 1.0"]}
    argv = sys.argv
    try:
        import json as _json
        import tempfile
        with tempfile.TemporaryDirectory() as td:
            po, pn = f"{td}/old.json", f"{td}/new.json"
            with open(po, "w") as f:
                _json.dump(old, f)
            with open(pn, "w") as f:
                _json.dump(new, f)
            sys.argv = ["compare_bench", po, pn]
            cb.main()
    finally:
        sys.argv = argv
    out = capsys.readouterr().out
    assert "subset mismatch" in out
    assert "CONTENDED" in out
    assert "core_total: old" in out      # core is still comparable
    assert "value: old" not in out       # headline ratio suppressed
