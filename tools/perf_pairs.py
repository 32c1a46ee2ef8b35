#!/usr/bin/env python3
"""Alternating parent/change pairs of the benchmark, with the gain rule.

Usage:

    python tools/perf_pairs.py PARENT_DIR CHANGE_DIR --workload W --seeds A-B
        [--trace 0] [--log FILE]

For every seed in ``A..B`` (inclusive) this runs the benchmark once
from each checkout, with the checkout as working directory. The
command and the run length come from the change's ``BENCHMARK.json``
(``command``, ``run_seconds``), so every pair runs as the benchmark
declares. The side that runs first alternates: the parent on the first
seed, the change on the second, and so on. It only shells out; nothing
under ``perfbench/`` is imported, so the two checkouts each time their
own code.

Per metric it prints each side's median, Q1 and Q3, how many pairs the
change won (ties count for neither), and whether the rule of
choosing-metrics section 8 holds: the change wins at least nine tenths
of the pairs and the medians differ, in the better direction, by more
than the parent's interquartile range. A pair where either run lacks
the metric (a run that failed) counts as a change loss, and no metric
shows a gain when the change failed more operations than the parent.
The better direction of each metric comes from the change's
``BENCHMARK.json`` (lower when not listed). Every run's correctness
and failed-operation count is printed too, and per side the median of
each query's ``per_query_median_s`` and of the host's CPU probe
(``host.cpu_probe_s``), which tell a slower query from a slower host.
``--log`` appends each run's result object and its ``{"record": ...}``
line as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

SIDES = ("parent", "change")


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    seeds = list(range(int(lo), int(hi or lo) + 1))
    if not seeds:
        raise argparse.ArgumentTypeError(f"empty seed range {text!r}")
    return seeds


def better_directions(spec: dict) -> dict[str, str]:
    return {m["name"]: m["better"]
            for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def run_once(spec: dict, checkout: Path, workload: str, seed: int,
             trace: int) -> tuple[dict, dict]:
    """One benchmark run: (the result object, its last stdout line;
    the record, its ``{"record": ...}`` line, or ``{}``)."""
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    for line in proc.stderr.splitlines():
        if line.startswith("FAILED"):
            print(f"    {line}", file=sys.stderr)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False, "attempted": 0, "failed": 1,
                  "metrics": {}}
    result["exit_code"] = proc.returncode
    record = {}
    for line in lines:
        if line.startswith('{"record"'):
            record = json.loads(line)["record"]
    return result, record


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return (values[0],) * 3
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def verdict(pairs: list[tuple[float | None, float | None]], better: str
            ) -> tuple[int, int, bool]:
    """(change wins, ties, section-8 rule holds) over (parent, change)
    value pairs, one per seed; a pair missing either value (None) is a
    change loss."""
    sign = -1.0 if better == "higher" else 1.0
    full = [(p, c) for p, c in pairs if p is not None and c is not None]
    wins = sum(sign * (c - p) < 0 for p, c in full)
    ties = sum(c == p for p, c in full)
    parent = [p for p, _ in pairs if p is not None]
    change = [c for _, c in pairs if c is not None]
    if not parent or not change:
        return wins, ties, False
    q1, p_med, q3 = quartiles(parent)
    _, c_med, _ = quartiles(change)
    gap = sign * (p_med - c_med)
    holds = wins >= 0.9 * len(pairs) and gap > q3 - q1
    return wins, ties, holds


def host_report(records: dict[str, list[dict]]) -> None:
    """Per side, the median over runs of each query's
    ``per_query_median_s`` and of every ``host.cpu_probe_s`` reading."""
    queries = sorted(set().union(*(r.get("per_query_median_s", {})
                                   for side in SIDES
                                   for r in records[side])))
    rows = [(f"query {q}", [[r["per_query_median_s"][q]
                             for r in records[side]
                             if q in r.get("per_query_median_s", {})]
                            for side in SIDES]) for q in queries]
    rows.append(("host.cpu_probe_s",
                 [[v for r in records[side]
                   for v in r.get("host", {}).get("cpu_probe_s", [])]
                  for side in SIDES]))
    for name, values in rows:
        cells = [f"{statistics.median(v):.4g}" if v else "-" for v in values]
        print(f"{name:32} {'median':>8} parent {cells[0]:>10} "
              f"change {cells[1]:>10}")


def report(results: dict[str, list[dict]], better: dict[str, str]) -> None:
    failed = {side: sum(r["failed"] for r in results[side]) for side in SIDES}
    for side in SIDES:
        runs = results[side]
        print(f"{side}: {sum(r['correct'] for r in runs)}/{len(runs)} runs "
              f"correct, {failed[side]} failed operations")
    more_failed = failed["change"] > failed["parent"]
    if more_failed:
        print("the change failed more operations: no metric shows a gain")
    names = sorted(set().union(*(r["metrics"] for side in SIDES
                                 for r in results[side])))
    print(f"{'metric':32} {'parent med [q1, q3]':>28} "
          f"{'change med [q1, q3]':>28} {'wins':>7}  rule")
    for name in names:
        pairs = [tuple(r["metrics"].get(name, {}).get("value") for r in pair)
                 for pair in zip(results["parent"], results["change"])]
        cells = []
        for values in zip(*pairs):
            present = [v for v in values if v is not None]
            if not present:
                cells.append("-")
                continue
            q1, med, q3 = quartiles(present)
            cells.append(f"{med:.4g} [{q1:.4g}, {q3:.4g}]")
        wins, ties, holds = verdict(pairs, better.get(name, "lower"))
        gain = holds and not more_failed
        print(f"{name:32} {cells[0]:>28} {cells[1]:>28} "
              f"{wins:>3}/{len(pairs):<3}  {'gain' if gain else 'no gain'}"
              + (f" ({ties} ties)" if ties else ""))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seed_range, required=True,
                    help="inclusive range A-B, or one seed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", type=Path,
                    help="append every run's result and record as a "
                    "JSON line")
    args = ap.parse_args(argv)
    dirs = {"parent": args.parent.resolve(), "change": args.change.resolve()}
    spec = json.loads((dirs["change"] / "BENCHMARK.json").read_text())
    results: dict[str, list[dict]] = {side: [] for side in SIDES}
    records: dict[str, list[dict]] = {side: [] for side in SIDES}
    for i, seed in enumerate(args.seeds):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        for side in order:
            res, rec = run_once(spec, dirs[side], args.workload, seed,
                                args.trace)
            results[side].append(res)
            records[side].append(rec)
            shown = {k: round(v["value"], 4)
                     for k, v in sorted(res["metrics"].items())
                     if k.endswith("makespan_s") or k == "setup_s"}
            print(f"seed {seed} {side:6} correct={res['correct']} "
                  f"failed={res['failed']} {json.dumps(shown)}", flush=True)
            if args.log:
                with args.log.open("a") as fh:
                    fh.write(json.dumps({"seed": seed, "side": side,
                                         "result": res, "record": rec})
                             + "\n")
    report(results, better_directions(spec))
    host_report(records)
    return 0 if all(r["correct"] for side in SIDES
                    for r in results[side]) else 1


if __name__ == "__main__":
    sys.exit(main())
