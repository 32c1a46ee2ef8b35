#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line to stdout and writes no file:
  {"metric": "headline_total", "value": <sec>, "unit": "sec",
   "core_total": <sec>, "queries": {name: sec, ...}, "sf": <dir>,
   "subset": ..., "sessions": {...}, "method": ..., ...}

Each query is executed to completion through the ``noop`` sink
(full computation, no driver collect, no disk write) — the same
shape a cluster job has, so the timings reflect scan+shuffle+agg
cost rather than toPandas serialization.

Noise control, two levels:

- WITHIN a session: each query is the MEDIAN of 3 runs (absorbs
  one-off GC pauses), and between queries the harness clears
  Spark's block-manager cache and asks both heaps for a GC so query
  N+1 does not pay query N's heap debt.
- ACROSS sessions: session-level variance on heavyweight queries is
  ±10-35% (JIT state, OS cache, heap shape). The harness runs
  ``$SPARK_GRAFT_BENCH_SESSIONS`` (default 3) FRESH-JVM sessions
  sequentially and reports the per-session totals plus
  min/median/max, with the headline = the MEDIAN session's total and
  per-query times = across-session medians.

Each session also times perfbench's fixed single-threaded loop
(``perfbench/spans.py::cpu_probe_s``) at its start and at its end and
reports the pair as ``cpu_probe_s``: a slower core shows up there,
not only in the query times. There is no threshold and no verdict;
a reader compares the readings.

Methodology details in BASELINE.md.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from perfbench.spans import cpu_probe_s  # noqa: E402

#: representative slice of the operator surface: scan+agg, joins,
#: window, as-of, sessionize, wordcount, dedup (exact + LSH), ANN,
#: text metrics — the ops whose scale behavior matters most.
HEADLINE = (
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "top_orders_per_customer",
    "events_sessions",
    "events_asof_orders",
    "wc_word_count",
    "dedup_exact",
    "dedup_minhash_pairs",
    "dedup_prefix_pairs",
    "ann_cosine_topk",
    "doc_quality",
    "doc_length_deciles",
    # round-3 pipeline operators: cross-doc shuffle (boilerplate),
    # two-pass model build + literal-map apply (lmscore), shard
    # windows (packing) — tracked so their shuffle shapes get
    # round-over-round numbers.
    "boilerplate_lines",
    "doc_lm_quality",
    "pack_training_sequences",
    # round-4 operators: corpus rewrite (c4), model-build groupBy
    # (bpe), cluster-then-pair (semdedup), one-pass feature vector,
    # Arrow media decode (audio) — the new shuffle/UDF shapes.
    "c4_line_dedup",
    "bpe_pair_stats",
    "semantic_dedup_embeddings",
    "doc_quality_features",
    "media_audio_features",
    # round-5 operators: zero-shuffle explode (chunks), grid-generate
    # + aggregate join (gapfill), bounded-set algebra over a corpus
    # explode (overlap) — the new plan shapes worth round-over-round
    # numbers. survivors/histogram ride shapes already tracked above.
    "doc_chunks",
    "events_gapfill",
    "source_overlap_matrix",
    # round-7 additions (VERDICT r6 next#5): the four queries the r6
    # banding rework changed most — adaptive Hamming bands (simhash,
    # dHash, audio FP) and OR-banded embedding LSH — plus the new
    # exact-substring rewrite (explode → count → join-back → per-doc
    # islands). NOTE: their inclusion grows the headline total by
    # construction; compare r6↔r7 on the shared-query subset or the
    # per-query map, not raw totals (BASELINE.md).
    "dedup_simhash_pairs",
    "media_image_dhash_pairs",
    "media_audio_fp_pairs",
    "dedup_embedding_pairs_lsh",
    "exact_substring_dedup",
    # round-7 session-3 operators: term-filtered postings + broadcast
    # stats (bm25), bounded mapInPandas summaries + re-scan verify
    # (heavy hitters), integer bit-interleave projection (z-order),
    # count-only shuffle + top-n (skew report) — all first-bench rows.
    "doc_bm25_topk",
    "heavy_hitters_words",
    "lineitem_zorder_layout",
    "join_skew_report",
    "source_quota_cap",
    "orders_scd2_history",
    "events_funnel",
    "supplier_part_pagerank",
    "dsir_selection",
    "doc_bm25_multi",
    "orders_agg_ivm",
    "orders_snapshot_diff",
    # round-8 operators: composed CDC pipeline (merge+SCD2+IVM+diff in
    # one plan), min/max delta rules, two-pass grouped exact
    # percentiles (outliers), per-source window calibration.
    "orders_cdc_e2e",
    "orders_agg_ivm_minmax",
    "doc_length_outliers",
    "doc_quality_calibrated",
    "bigram_collocations",
    "lineitem_profile",
    "events_rate_cusum",
    "doc_hybrid_search",
    "doc_cdc_chunks",
    # round-9 operators: chunk-index probe dedup (batch-vs-index
    # asymmetry over the committed chunk artifact), BM25-leg hybrid
    # fusion. doc_quality_calibrated keeps its row above — its r9
    # ECDF rework changed the plan, so compare it per-query, not in
    # any frozen subset (it is not in CORE).
    "doc_cdc_chunk_dedup",
    "doc_hybrid_bm25",
    "doc_chunk_share_pairs",
    "hybrid_rank_overlap",
    "doc_chunk_gc_report",
    "semantic_decontam_report",
    # round-10 operators: hashed char-trigram language ID (artifact
    # model + integer scoring), exact-percentile sketch_stats (the
    # oracled rework), and the classify→plan mixture composition —
    # first bench rows for all three.
    "doc_language_ngram",
    "sketch_stats",
    "mixture_on_predicted_lang",
    "sketch_cms_words",
    # round-10 late additions: basket-pair mining (one basket shuffle,
    # array-expansion pairs), the MinHash decontamination leg (banded
    # cross-probe + exact verify), first-order event transitions
    # (one lead window + tiny agg) — first bench rows.
    "part_pair_affinity",
    "decontam_minhash_report",
    "events_type_transitions",
    "ann_ivfpq_topk",
    "doc_nfc_stats",
    # round-11 operators: explicit-register HLL overlap (distinct +
    # register partial-agg + pairwise register algebra), IPF grid
    # calibration (one groupBy + bounded driver fit), the basket-cap
    # audit (one basket shuffle + 1-row agg) — first bench rows.
    # ann_ivfpq_topk (residual rework) and doc_language_ngram
    # (holdout rework) changed plans this round: compare them
    # per-query, never inside a frozen subset.
    "vocab_overlap_hll",
    "mixture_ipf_grid",
    "basket_cap_report",
    "source_drift_tv",
    "bpe_fertility_by_lang",
    # round-12 operators: sketch-only HLL overlap (the runnable
    # 100 TB contract — no word-level join), the IVF-PQ recall sweep
    # (one index build, five routing levels), bottom-k reservoir
    # sampling (one window top-k), retention cohorts (distinct +
    # self-join on user), dedup cluster stats (near-dup components +
    # two bounded aggregates) — first bench rows.
    "vocab_overlap_hll_sketch",
    "ivfpq_recall_curve",
    "doc_reservoir_sample",
    "events_retention_cohorts",
    "dedup_cluster_stats",
    # round-13 operators: incremental IVF-PQ append + drift report
    # (frozen-model encode of the new batch, integer-exact per-list
    # aggregation), quality-stratified reservoir (one tokenizer pass
    # + per-stratum window top-k) — first bench rows.
    # ivfpq_recall_curve changed plan this round (single-pass sweep):
    # compare it per-query, never inside a frozen subset.
    "ivfpq_append_report",
    "doc_stratified_reservoir",
    "leakage_safe_splits",
)

#: FROZEN round-over-round comparison core (VERDICT r7 next#7): the
#: 24-query subset benched identically since round 5/6. The headline
#: list above grows every round by construction (new operators get
#: bench rows), so cross-round comparisons read ``core_total``;
#: never append here — start a new frozen core instead if this one
#: stops being representative.
CORE = HEADLINE[:24]
assert CORE[-1] == "source_overlap_matrix", "frozen core displaced"


def run_session() -> dict:
    """One fresh-session measurement pass: per-query median-of-3."""
    from mapreducewordcount_spark.queries import all_queries
    from mapreducewordcount_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    probe_start = cpu_probe_s()
    spark = get_spark("bench")
    specs = all_queries()

    # warm up the JVM/codegen on the smallest table once
    try:
        specs["q1_pricing_summary"].spark_fn(spark, sf_dir).write \
            .mode("overwrite").format("noop").save()
    except Exception as exc:  # noqa: BLE001 — warmup must not kill the run
        print(f"warmup failed: {exc!r}", file=sys.stderr)

    def _quiesce() -> None:
        """Level the field between queries: drop cached blocks left by
        operators that persist intermediates, then collect garbage on
        both heaps so the next query's first run doesn't absorb this
        one's GC debt. Failures are non-fatal — quiescing is a noise
        reduction, not a correctness step."""
        try:
            spark.catalog.clearCache()
        except Exception:  # noqa: BLE001
            pass
        try:
            spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        except Exception:  # noqa: BLE001
            pass
        gc.collect()

    # per-query isolation: one broken query must degrade the report
    # (null timing + error string), never erase it.
    # SPARK_GRAFT_BENCH_ONLY=core (or a comma list of query names)
    # restricts the session to a subset, e.g. the frozen 24-query
    # CORE. The report carries ``subset`` so a reader (and
    # compare_bench's per-query ratios) can't mistake a subset
    # session's headline_total for a full run's.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    if only == "core":
        names: tuple[str, ...] = CORE
    elif only:
        wanted = set(only.split(","))
        names = tuple(n for n in HEADLINE if n in wanted)
        unknown = sorted(wanted - set(HEADLINE))
        if unknown:
            # a typo'd name must not silently shrink the subset: the
            # session still runs, and stderr says what was dropped
            print(f"SPARK_GRAFT_BENCH_ONLY names not in HEADLINE, "
                  f"ignored: {', '.join(unknown)}", file=sys.stderr)
    else:
        names = HEADLINE

    timings: dict[str, float | None] = {}
    errors: dict[str, str] = {}
    for name in names:
        _quiesce()
        runs: list[float] = []
        try:
            for _ in range(3):  # median-of-3: robust to one-off pauses
                t0 = time.perf_counter()
                specs[name].spark_fn(spark, sf_dir).write \
                    .mode("overwrite").format("noop").save()
                runs.append(time.perf_counter() - t0)
                # every rep starts cold: the next rep must not read the
                # blocks this one persisted
                spark.catalog.clearCache()
            timings[name] = round(statistics.median(runs), 3)
        except Exception as exc:  # noqa: BLE001
            timings[name] = None
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"bench query {name} failed: {errors[name]}",
                  file=sys.stderr)
    spark.stop()

    total = round(sum(v for v in timings.values() if v is not None), 3)
    core_total = round(sum(v for n, v in timings.items()
                           if n in CORE and v is not None), 3)
    # key order matters: a capture that truncates long report lines
    # from the END still keeps the per-query map and core_total
    report = {"metric": "headline_total", "value": total, "unit": "sec",
              "core_total": core_total, "queries": timings, "sf": sf_dir,
              "subset": only or "headline",
              "method": "median-of-3, cache cleared after every rep, "
                        "GC between queries"}
    if errors:
        report["errors"] = errors
    report["host"] = {"cpu_probe_s": [round(probe_start, 4),
                                      round(cpu_probe_s(), 4)]}
    return report


def combine_sessions(reports: list[dict]) -> dict:
    """One report over several sessions' reports: the median session's
    totals, per-query medians across sessions, and each session's
    ``cpu_probe_s`` pair in session order."""
    totals = sorted(r["value"] for r in reports)
    core_totals = sorted(r.get("core_total", 0.0) for r in reports)
    queries: dict[str, float | None] = {}
    for name in HEADLINE:
        vals = [r["queries"].get(name) for r in reports]
        vals = [v for v in vals if v is not None]
        queries[name] = round(statistics.median(vals), 3) if vals else None
    errors: dict[str, str] = {}
    for r in reports:
        errors.update(r.get("errors", {}))

    report = {
        "metric": "headline_total",
        # the median SESSION total — a total that actually happened,
        # not a sum of cross-session per-query medians. Even counts
        # take the UPPER median (conservative: never flatters the
        # engine with the lucky session).
        "value": totals[len(totals) // 2],
        "unit": "sec",
        # the frozen 24-query comparison core (see CORE): the number
        # to compare round-over-round; the headline total grows with
        # coverage by construction
        "core_total": core_totals[len(core_totals) // 2],
        "queries": queries,  # per-query: median across sessions
        "sf": reports[0]["sf"],
        "subset": reports[0].get("subset", "headline"),
        "sessions": {"n": len(reports), "totals": totals,
                     "core_totals": core_totals,
                     "min": totals[0], "median": totals[len(totals) // 2],
                     "max": totals[-1],
                     "cpu_probe_s": [r["host"]["cpu_probe_s"]
                                     for r in reports]},
        "method": (f"{len(reports)} fresh-JVM sessions x (median-of-3 "
                   "per query, cache cleared after every rep, GC "
                   "between queries); "
                   "headline = median session total"),
    }
    if errors:
        report["errors"] = errors
    return report


def _emit(report: dict) -> None:
    """Print the report as one JSON line on stdout — its only output."""
    print(json.dumps(report))


def main() -> None:
    if "--session" in sys.argv:
        _emit(run_session())
        return
    n_sessions = int(os.environ.get("SPARK_GRAFT_BENCH_SESSIONS", "3"))
    if n_sessions <= 1:
        _emit(run_session())
        return

    # each session in a FRESH interpreter/JVM — the only isolation
    # that actually resets JIT state, heap shape, and codegen caches.
    # A wall-clock budget bounds the whole run: a slow environment
    # degrades to fewer sessions (n recorded in the JSON) instead of
    # risking an external timeout that erases the report entirely.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "900"))
    t_start = time.perf_counter()
    reports: list[dict] = []
    for i in range(n_sessions):
        elapsed = time.perf_counter() - t_start
        per_session = elapsed / max(len(reports), 1) if reports else 0.0
        if reports and elapsed + per_session * 1.3 > budget_s:
            print(f"bench budget: stopping after {len(reports)} of "
                  f"{n_sessions} sessions ({elapsed:.0f}s elapsed, "
                  f"{budget_s:.0f}s budget)", file=sys.stderr)
            break
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--session"],
            capture_output=True, text=True)
        sys.stderr.write(proc.stderr[-2000:])
        line = next((ln for ln in reversed(proc.stdout.splitlines())
                     if ln.startswith("{")), None)
        if line is None:
            print(f"bench session {i} produced no report "
                  f"(exit {proc.returncode})", file=sys.stderr)
            continue
        reports.append(json.loads(line))
    if not reports:
        raise SystemExit("all bench sessions failed")
    _emit(combine_sessions(reports))


if __name__ == "__main__":
    main()
