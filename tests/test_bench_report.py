"""Bench report contract: the printed line leads with the regression
instrument (the queries map and core_total), carries each session's
``cpu_probe_s`` start/end readings, and is the harness's only output —
``bench.py`` writes no file into the checkout."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_SMOKE
from tests.test_bucketed_stateful import _checkout_snapshot

REPO = Path(__file__).resolve().parent.parent


def _session_report(total, probes):
    return {"metric": "headline_total", "value": total, "unit": "sec",
            "core_total": total / 2,
            "queries": {"q1_pricing_summary": total / 2,
                        "q3_top_orders": total / 2},
            "sf": "x", "subset": "headline", "method": "m",
            "host": {"cpu_probe_s": probes}}


def test_emit_orders_line_and_writes_artifact(tmp_path, monkeypatch,
                                              capsys):
    """The combined line leads with queries and core_total, carries one
    cpu_probe_s pair per session, and nothing lands under ``_REPO``
    (the report is stdout only)."""
    import bench

    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    monkeypatch.chdir(tmp_path)
    reports = [_session_report(2.0, [0.05, 0.06]),
               _session_report(1.0, [0.05, 0.07])]
    bench._emit(bench.combine_sessions(reports))
    d = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    keys = list(d)
    assert keys[:8] == ["metric", "value", "unit", "core_total",
                        "queries", "sf", "subset", "sessions"]
    assert d["value"] == 2.0 and d["core_total"] == 1.0  # upper median
    assert d["sessions"]["cpu_probe_s"] == [[0.05, 0.06], [0.05, 0.07]]
    assert list(tmp_path.iterdir()) == []


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


def test_bench_run_writes_nothing_into_the_checkout():
    """A real one-session, one-query ``bench.py`` run from the repo root
    leaves the checkout as it found it and prints a line whose
    ``host.cpu_probe_s`` holds the start and end readings."""
    env = {**os.environ, "SPARK_GRAFT_BENCH_SESSIONS": "1",
           "SPARK_GRAFT_BENCH_ONLY": "q1_pricing_summary",
           "SPARK_GRAFT_SF_DIR": SF_SMOKE}
    before = _checkout_snapshot()
    proc = subprocess.run([sys.executable, "bench.py"], cwd=REPO, env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert _checkout_snapshot() == before
    d = json.loads(proc.stdout.strip().splitlines()[-1])
    assert list(d["queries"]) == ["q1_pricing_summary"]
    assert d["queries"]["q1_pricing_summary"] > 0
    probes = d["host"]["cpu_probe_s"]
    assert len(probes) == 2 and all(p > 0 for p in probes)
