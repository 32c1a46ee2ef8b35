#!/usr/bin/env python
"""Cross-round bench comparison that APPLIES the fingerprint rule
(BASELINE.md round 9): wall-clock totals from two reports are only
comparable when their machines were comparable, so this tool reads
two bench JSONs (raw ``bench.py`` output, or a driver ``BENCH_r*.json``
wrapper with the report under ``parsed``), checks their
``cpu_score_ms`` calibration constants, and prints per-query ratios
over the shared set plus the score-normalized core ratio.

Usage: python tools/compare_bench.py OLD.json NEW.json [top_n]

Reading the output:
- ``cpu_score ratio`` far from 1.0 → different machine states; trust
  the normalized numbers and per-query RATIO SHAPE (uniform ≈ machine,
  mixed ≈ plan changes), not raw totals.
- reports from before round 9, and every report of the current
  ``bench.py`` (which records ``cpu_probe_s`` start/end readings in
  place of the fingerprint), carry no ``cpu_score_ms`` → the tool
  says so and prints raw ratios only.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> dict:
    with open(path) as f:
        d = json.load(f)
    rep = d.get("parsed", d)  # driver wrapper or raw report
    if rep is None:
        # driver wrappers truncate the report line into ``tail`` when
        # it overflows (parsed == null); salvage what regex can reach —
        # per-query seconds, core totals, and the fingerprint scores
        rep = _salvage(d.get("tail") or "")
        print(f"note: {path} carries no parsed report; "
              f"salvaged {len(rep.get('queries', {}))} query rows "
              "from its truncated tail")
    return rep


def _salvage(tail: str) -> dict:
    import re

    # anchor per-query extraction to the "queries" OBJECT region
    # (ADVICE r10): the old whole-tail scan classified every
    # float-valued key outside a denylist as a query timing, so any
    # report-level float added later silently skewed the comparison.
    # The region ends at the first '}' (the map is flat); when the
    # truncation cut inside the map there is no '}', so take the rest.
    region = tail
    m = re.search(r'"queries":\s*\{', tail)
    if m:
        end = tail.find("}", m.end())
        region = tail[m.end():end if end != -1 else len(tail)]
    queries = {m.group(1): float(m.group(2)) for m in re.finditer(
        r'"([a-z0-9_]+)":\s*([0-9]+\.[0-9]+)', region)
        # belt-and-braces for pre-anchor tails where region == tail
        if m.group(1) not in ("value", "core_total", "sf",
                              "cpu_score_ms", "cpu_util_pct",
                              "steal_pct", "min", "max", "median",
                              "totals", "core_totals", "loadavg", "n")}
    rep: dict = {"queries": queries}
    m = re.search(r'"core_total":\s*([0-9.]+)', tail)
    if m:
        rep["core_total"] = float(m.group(1))
    m = re.search(r'"core_totals":\s*\[([0-9.,\s]+)\]', tail)
    if m and "core_total" not in rep:
        totals = [float(x) for x in m.group(1).split(",")]
        rep["core_total"] = statistics.median(totals)
    scores = [float(m.group(1)) for m in
              re.finditer(r'"cpu_score_ms":\s*([0-9.]+)', tail)]
    if scores:
        rep["env"] = [{"start": {"cpu_score_ms": s}} for s in scores]
    return rep


def score_of(rep: dict) -> float | None:
    """Median cpu_score_ms across every fingerprint in the report."""
    scores = []
    for e in rep.get("env", []):
        for side in ("start", "end"):
            s = (e.get(side) or {}).get("cpu_score_ms")
            if s:
                scores.append(s)
    for side in ("env_start", "env_end"):  # single-session report
        s = (rep.get(side) or {}).get("cpu_score_ms")
        if s:
            scores.append(s)
    return statistics.median(scores) if scores else None


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    old, new = load(sys.argv[1]), load(sys.argv[2])
    top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    # a core-only session's headline_total sums 24 queries, a full
    # session's sums 70+ — their 'value' ratio is meaningless
    # (ADVICE r12). Per-query ratios below stay valid (shared set).
    subsets = (old.get("subset"), new.get("subset"))
    subset_mismatch = (all(subsets) and subsets[0] != subsets[1])
    if subset_mismatch:
        print(f"WARNING: subset mismatch (old={subsets[0]!r} "
              f"new={subsets[1]!r}) — headline 'value' totals are "
              "NOT comparable and are suppressed below; per-query "
              "ratios over the shared set remain valid")
    # a self-flagged contended record (bench.py CONTENTION): raw
    # wall-clock comparison against it is refused explicitly —
    # trust only the score-normalized numbers and ratio SHAPE
    for label, rep in (("old", old), ("new", new)):
        if rep.get("contended"):
            print(f"WARNING: {label} report self-identifies as "
                  f"CONTENDED ({'; '.join(rep.get('contended_reasons', [])[:3])}) "
                  "— raw totals untrustworthy; read score-normalized "
                  "ratios and per-query shape only")

    s_old, s_new = score_of(old), score_of(new)
    if s_old and s_new:
        cal = s_new / s_old
        print(f"cpu_score_ms: old {s_old} new {s_new} "
              f"(ratio {cal:.3f} — single-core speed factor)")
    else:
        cal = None
        missing = [n for n, s in (("old", s_old), ("new", s_new))
                   if not s]
        print(f"no cpu_score_ms fingerprint in: {', '.join(missing)} "
              "— raw ratios only")

    shared = sorted(q for q, v in old.get("queries", {}).items()
                    if v and new.get("queries", {}).get(q))
    if not shared:
        raise SystemExit("no shared queries between the reports")
    ratios = {q: new["queries"][q] / old["queries"][q] for q in shared}
    med = statistics.median(ratios.values())
    spread_lo = sorted(ratios.items(), key=lambda kv: kv[1])[:top_n]
    spread_hi = sorted(ratios.items(), key=lambda kv: kv[1])[-top_n:]
    print(f"shared queries: {len(shared)}; median ratio new/old "
          f"{med:.3f}" + (f" (score-normalized {med / cal:.3f})"
                          if cal else ""))
    print("uniform-ratio test: a machine-state shift moves every "
          "query together; plan changes move specific queries.")
    print(f"  lowest {top_n}: " + ", ".join(
        f"{q} {r:.2f}" for q, r in spread_lo))
    print(f"  highest {top_n}: " + ", ".join(
        f"{q} {r:.2f}" for q, r in spread_hi))

    for key in ("core_total", "value"):
        if key == "value" and subset_mismatch:
            continue  # suppressed — see the subset-mismatch warning
        a, b = old.get(key), new.get(key)
        if a and b:
            line = f"{key}: old {a} new {b} (ratio {b / a:.3f}"
            if cal:
                line += f", score-normalized {b / a / cal:.3f}"
            print(line + ")")


if __name__ == "__main__":
    main()
