"""Structured Streaming forms of the engine's aggregations.

The reference is batch-only (SURVEY.md §2.4: no watermarks, windows
or state stores anywhere in its 549 LoC); these are extension scope.
Each job reuses the *same column expressions* as its batch twin
(tokenizer, window, session gap), so batch/stream parity is a test
assertion, not a hope:

- ``stream_word_counts`` — the reference pipeline as an unbounded
  query: counts update as files arrive. At scale this is the
  canonical "ingest new crawl shards continuously" shape.
- ``stream_hourly_events`` — tumbling-window counts with a
  watermark bounding state: late events beyond the watermark are
  dropped deterministically instead of growing state forever.
- ``stream_session_windows`` — gap-based sessions via the built-in
  ``session_window`` state machine (the streaming twin of
  ``operators/sessionize.py``).

All jobs take source/sink through parameters so tests can drive them
file→memory while production drives kafka→parquet; the plan is
identical either way.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.tokenize import tokenize_expr
from mapreducewordcount_spark.streaming.state import StateStore, write_version


def stream_word_counts(lines: DataFrame) -> DataFrame:
    """streaming lines(value) → running word counts (complete mode)."""
    return (lines
            .select(F.explode(tokenize_expr("value")).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt")))


def stream_cms_cells(lines: DataFrame) -> DataFrame:
    """streaming lines(value) → running count-min sketch cells —
    the BOUNDED-STATE streaming frequency summary.

    `stream_word_counts` keeps one state row per distinct word
    (state grows with the vocabulary — unbounded on an open stream);
    this twin keeps ≤ DEPTH × WIDTH (4 × 2048) rows NO MATTER how
    long the stream runs, trading exactness for the CMS
    never-underestimate / ≤ e/WIDTH·N overcount contract
    (operators/cms.py, property-tested). Because cell sums are
    merge-order and partition invariant (the same invariance the
    batch oracle rides), the streaming aggregation's final state
    (update or complete mode) equals the batch `cms_build` over the
    union of all micro-batches — pinned across a batch boundary in
    tests/test_stream_transitions.py.
    Probes run against the sink exactly as against the batch sketch.
    """
    from mapreducewordcount_spark.operators.cms import DEPTH, _cell

    cells = F.array(*[_cell(F.col("word"), d) for d in range(DEPTH)])
    return (lines
            .select(F.explode(tokenize_expr("value")).alias("word"))
            .select(F.posexplode(cells).alias("d", "cell"))
            .groupBy("d", "cell")
            .agg(F.count(F.lit(1)).alias("c")))


def stream_hll_registers(docs: DataFrame,
                         group_col: str = "source",
                         text_col: str = "text") -> DataFrame:
    """streaming docs → running explicit-HLL registers per group —
    the BOUNDED-STATE streaming distinct-count (operators/hll.py).

    Completes the streaming sketch family: ``stream_word_counts``
    keeps vocabulary-sized exact state, ``stream_cms_cells`` bounds
    FREQUENCY state at DEPTH×WIDTH sum-merged cells, and this twin
    bounds DISTINCT-count state at |groups| × 256 max-merged
    registers. Because register max is commutative/idempotent, the
    aggregation's final state equals ``hll_registers`` over the union
    of all micro-batches (pinned across a planted boundary in
    tests/test_stream_transitions.py) and estimates read off the sink
    exactly as off the batch sketch — per-source distinct-vocabulary
    tracking on an open stream in kilobytes of state.
    """
    from mapreducewordcount_spark.functions.tokenize import tokenize_expr
    from mapreducewordcount_spark.operators.hll import hll_registers

    words = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(tokenize_expr(text_col)).alias("word"))
    # the batch operator's expressions ARE streaming-compatible
    # (select + one max-aggregate), so the twin shares them verbatim
    return hll_registers(words, "word", ["grp"])


def start_cms_heavy_hitters(lines: DataFrame, *, state_dir: str,
                            out_dir: str, checkpoint_dir: str,
                            k: int = 20, pool: int | None = None):
    """Bounded-state streaming TOP-K — the classic CMS + candidate
    heap composition (VERDICT r10 next#8): ``stream_cms_cells`` keeps
    the running frequency sketch, and a ``pool``-bounded candidate
    set tracks the words that might be heavy. Pairs the streaming
    family with the batch ``heavy_hitters_words`` the way
    ``stream_cms_cells`` pairs with ``sketch_cms_words``.

    Per micro-batch ``b`` (foreachBatch; versioned-parquet state like
    :func:`start_cdc_agg_refresh`, but NO caller seed — the sketch
    legitimately starts from nothing, so an absent state dir IS the
    empty state):

    - merge the batch's CMS cells into ``{state_dir}/cells/v{b+1}``
      (integer cell sums — merge-order invariant, so the running
      sketch equals ``cms_build`` over the union of all batches);
    - re-estimate the previous candidates ∪ the batch's distinct
      words against the MERGED sketch, keep the ``pool`` highest
      (est desc, word) as ``{state_dir}/cand/v{b+1}``;
    - emit the top ``k`` of that pool to ``{out_dir}/v{b+1}`` as
      (word, cms_count).

    State is ≤ DEPTH×WIDTH + pool rows FOREVER (vs
    ``stream_word_counts``' vocabulary-sized state); per-batch work
    is O(batch + sketch + pool). Version-addressed overwrites make
    redelivery idempotent (the CDC-job contract). The self-correcting
    property worth naming: because the sketch is GLOBAL, a word
    re-entering the candidate set gets its full cumulative estimate,
    not a from-now count — an evicted heavy hitter is recovered the
    next time it occurs at all. The honest miss case is a word whose
    occurrences ALL precede its eviction and which never recurs;
    SpaceSaving-style pool sizing (pool ≫ k, default 4k) bounds how
    heavy such a word can be (it must sit below the pool's floor
    estimate at eviction time). Batch parity across a planted batch
    boundary is pytest-pinned (tests/test_stream_transitions.py).

    Returns the started StreamingQuery (caller stops it).
    """
    from mapreducewordcount_spark.operators.cms import (
        cms_build,
        cms_estimate,
    )

    spark = lines.sparkSession
    pool = pool if pool is not None else 4 * k
    cells = StateStore(spark, f"{state_dir}/cells")
    cand = StateStore(spark, f"{state_dir}/cand")

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.localCheckpoint(eager=True)  # cut stream lineage
        words = batch.select(
            F.explode(tokenize_expr("value")).alias("word"))
        bcells = cms_build(words)
        in_version = cells.input_version(batch_id)
        if in_version is None:
            merged = bcells
            prev_cand = words.select("word").limit(0)
        else:
            merged = (cells.read(in_version).unionByName(bcells)
                      .groupBy("d", "cell").agg(F.sum("c").alias("c")))
            prev_cand = cand.read(in_version).select("word")
        out_version = batch_id + 1
        cells.commit(merged, out_version)
        cand_words = (prev_cand
                      .unionByName(words.select("word"))
                      .distinct())
        est = cms_estimate(cand_words, cells.read(out_version))
        cand.commit(est.orderBy(F.col("cms_count").desc(), "word")
                    .limit(pool), out_version)
        write_version(cand.read(out_version)
                      .orderBy(F.col("cms_count").desc(), "word").limit(k),
                      out_dir, out_version)

    return (lines.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(refresh).start())


def start_source_drift_monitor(docs: DataFrame, *, state_dir: str,
                               out_dir: str, checkpoint_dir: str,
                               source_col: str = "source",
                               text_col: str = "text"):
    """Streaming twin of ``source_drift_tv`` (queries/pipeline10):
    maintain per-(source, bucket) hashed-token counts as bounded
    versioned state (≤ |sources| × 1024 rows — cell sums are
    mergeable exactly like the CMS twin's) and emit the cumulative
    per-source TV-vs-rest report each micro-batch — the live
    off-distribution alarm for a crawl feed.

    State/versioning contract matches :func:`start_cms_heavy_hitters`
    (foreachBatch, version-addressed overwrites, no caller seed —
    absent state IS the empty sketch). Because bucket counts are
    merge-order invariant integer sums, the final emission equals the
    batch operator over the union of all micro-batches — pinned
    across a planted batch boundary in
    tests/test_stream_transitions.py.

    Returns the started StreamingQuery (caller stops it).
    """
    from mapreducewordcount_spark.operators.drift import (
        token_bucket_counts,
        tv_drift_vs_rest,
    )

    cnt = StateStore(docs.sparkSession, f"{state_dir}/cnt")

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.localCheckpoint(eager=True)  # cut stream lineage
        bcnt = token_bucket_counts(batch, group_col=source_col,
                                   text_col=text_col)
        in_version = cnt.input_version(batch_id)
        if in_version is not None:
            bcnt = (cnt.read(in_version).unionByName(bcnt)
                    .groupBy("grp", "bucket")
                    .agg(F.sum("c").alias("c")))
        cnt.commit(bcnt, batch_id + 1)
        write_version(tv_drift_vs_rest(cnt.read(batch_id + 1)), out_dir,
                      batch_id + 1)

    return (docs.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(refresh).start())


def stream_hourly_events(events: DataFrame,
                         watermark: str = "2 hours") -> DataFrame:
    """streaming events(ts, event_type, value) → 1h tumbling counts.

    The watermark bounds state: a window finalizes (append mode) once
    the event-time high-water mark passes window.end + watermark, so
    state size is O(active windows), independent of stream length.
    """
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.date_format(F.col("w.start"),
                                  "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
                    "event_type", "n", "sum_value"))


def stream_session_windows(events: DataFrame, gap: str = "30 minutes",
                           watermark: str = "2 hours") -> DataFrame:
    """streaming events → per-user session aggregates via session_window."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id",
                    F.date_format(F.col("w.start"),
                                  "yyyy-MM-dd HH:mm:ss").alias("session_start"),
                    "n_events"))


def stream_user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum) via
    ``applyInPandasWithState``.

    The escape hatch for stateful logic the built-in aggregations
    can't express (per-key state machines, custom eviction): state is
    an explicit (n, total) record per user, updated per micro-batch,
    emitted in update mode. State lives in the state store
    (checkpointed, exactly-once across restarts); memory is bounded
    by active keys — at 100 TB of history the state is still just
    one small row per live user.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "total_value": [round(total, 2)]})

    return (events
            .groupBy("user_id")
            .applyInPandasWithState(
                update,
                outputStructType="user_id long, n_events long, total_value double",
                stateStructType="n long, total double",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def stream_event_transitions(events: DataFrame) -> DataFrame:
    """Per-user first-order transition counts maintained incrementally
    across micro-batches — the streaming twin of the batch
    ``events_type_transitions`` query (queries/pipeline9.py).

    The lead-window shape is inherently stateful in a stream: the
    transition at a micro-batch boundary pairs the LAST event of the
    previous batch with the FIRST of the next, which no stateless
    per-batch window can see. State per user = the last event seen
    (epoch-µs, id, type) + the user's cumulative (from, to) count map
    (bounded at |types|² entries, stored as parallel arrays). Each
    batch sorts the user's slice by (ts, event_id), folds transitions
    through the stored boundary, and emits the TOUCHED pairs with
    cumulative counts (update mode — the state-store discipline of
    stream_user_running_totals).

    In-order contract (fail-fast, the CDC-twin discipline): a batch
    whose earliest event precedes the stored last event would have
    produced different transitions in the batch ordering — the twin
    raises instead of silently diverging. The production swap for
    genuinely late data is a watermark + reorder buffer in front
    (documented in SCALE.md), which trades latency for order.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            last_us, last_id, last_type, froms, tos, counts = state.get
            cnt = {(f, t): c for f, t, c in zip(froms, tos, counts)}
        else:
            last_us, last_id, last_type, cnt = -1, -1, None, {}
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:  # pd.concat raises on an empty list
            return
        batch = pd.concat(frames)
        batch = batch.sort_values(["ts", "event_id"])
        first_us = int(batch["ts"].iloc[0].value // 1000)
        first_id = int(batch["event_id"].iloc[0])
        if (first_us, first_id) <= (last_us, last_id):
            raise ValueError(
                f"out-of-order micro-batch for user {key[0]}: event "
                f"({first_us}, {first_id}) precedes stored last "
                f"({last_us}, {last_id}); front a reorder buffer for "
                "late sources")
        touched: set = set()
        prev = last_type
        for t in batch["event_type"]:
            if prev is not None:
                k = (prev, t)
                cnt[k] = cnt.get(k, 0) + 1
                touched.add(k)
            prev = t
        tail = batch.iloc[-1]
        keys = sorted(cnt)
        state.update((int(tail["ts"].value // 1000),
                      int(tail["event_id"]), str(tail["event_type"]),
                      [k[0] for k in keys], [k[1] for k in keys],
                      [int(cnt[k]) for k in keys]))
        if touched:
            tk = sorted(touched)
            yield pd.DataFrame({
                "user_id": [int(key[0])] * len(tk),
                "from_type": [k[0] for k in tk],
                "to_type": [k[1] for k in tk],
                "n_transitions": [int(cnt[k]) for k in tk]})

    return (events
            .groupBy("user_id")
            .applyInPandasWithState(
                update,
                outputStructType=("user_id long, from_type string, "
                                  "to_type string, n_transitions long"),
                stateStructType=("last_us long, last_id long, "
                                 "last_type string, froms array<string>, "
                                 "tos array<string>, counts array<long>"),
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def stream_deduped_docs(docs: DataFrame, watermark: str = "1 hour",
                        id_col: str = "fp") -> DataFrame:
    """Streaming exact dedup: first-seen wins within the watermark.

    Uses ``dropDuplicatesWithinWatermark`` — plain ``dropDuplicates``
    on a non-time subset IGNORES the watermark for state cleanup
    (every fingerprint ever seen stays in the state store forever);
    the WithinWatermark variant evicts a key's state once the
    watermark passes it, bounding state at the cost that a duplicate
    arriving later than the horizon is NOT deduped (documented
    trade-off; set the horizon to the upstream's max delivery delay).
    Streaming twin of ``operators.dedup.exact_dedup``: same md5
    fingerprint, state is 16-byte digests not documents.
    """
    from mapreducewordcount_spark.functions.text_metrics import fingerprint_md5

    return (docs
            .withColumn(id_col, fingerprint_md5("text"))
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark([id_col]))


def stream_simhash_dedup(docs: DataFrame,
                         watermark: str = "1 hour") -> DataFrame:
    """Streaming CONTENT near-dup filter: first-seen-signature wins
    within the watermark.

    Where ``stream_deduped_docs`` keys on the exact normalized-text
    fingerprint, this keys on the row-local 64-bit SimHash
    (``operators.dedup.simhash64_expr`` — the same hash family as the
    batch ``simhash_pairs``, computed without a shuffle so it rides
    the micro-batch map). Documents whose word multisets are similar
    enough that no signature bit flips (small word-frequency
    perturbations, whitespace/case noise) collapse to one admitted
    copy; state is one 8-byte signature per distinct simhash within
    the watermark horizon.

    Honest limitation: this is EXACT-signature dedup — a pair at
    Hamming distance 1-3 that the batch operator would catch needs
    banded multi-key state (each doc voting across the adaptive
    ``max_hamming+1`` bands of ``hamming_band_plan`` — 4×16 bits at
    the default radius 3) and
    a cross-key decision, which the built-in dedup operator cannot
    express; route near-radius work to the batch ``simhash_pairs``
    pass and keep this as the cheap in-stream collapse of
    signature-identical arrivals.
    """
    from mapreducewordcount_spark.operators.dedup import simhash64_expr

    return (docs
            .withColumn("simhash", simhash64_expr("text"))
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["simhash"]))


def start_wordcount_to_reference_sink(lines: DataFrame, out_dir: str, m: int,
                                      checkpoint_dir: str):
    """Streaming word count → reference-layout ``out-<bucket>`` files,
    refreshed per micro-batch via ``foreachBatch``.

    ``foreachBatch`` is the escape hatch for sinks Spark doesn't ship:
    each micro-batch delivers the *complete* updated counts (complete
    output mode), and the batch function reuses the engine's batch
    writer — one code path for batch and streaming output contracts.
    The checkpoint dir makes restarts resume from the last committed
    batch (epoch-based exactly-once at the sink: a re-delivered batch
    id can be detected and skipped; the rewrite here is idempotent,
    which is the simpler sufficient property).

    Returns the started StreamingQuery (caller stops it).
    """
    from mapreducewordcount_spark.operators.wordcount import write_wordcount_output

    counts = stream_word_counts(lines).withColumnRenamed("cnt", "count")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_wordcount_output(batch_df, out_dir, m=m)

    return (counts.writeStream.outputMode("complete")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(sink).start())


def stream_enrich_events(events: DataFrame, users: DataFrame) -> DataFrame:
    """Stream-static join: enrich a live event stream against a
    batch dimension table.

    The static side is re-read per micro-batch planning cycle (so
    slowly-changing dims pick up updates) and joins map-side when
    small enough to broadcast — no streaming state at all, which is
    why this is the FIRST choice for enrichment at 100 TB: reserve
    stream-stream joins for when both sides are genuinely unbounded.
    """
    return (events.join(F.broadcast(users), "user_id")
            .select("event_id", "user_id", "event_type", "value", "segment"))


def stream_purchase_attribution(clicks: DataFrame, purchases: DataFrame,
                                horizon: str = "1 hour",
                                watermark: str = "2 hours") -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the
    same user's clicks in the preceding ``horizon``.

    Both sides are unbounded, so Spark must buffer rows in the state
    store until the other side can no longer produce a match. The
    two ingredients that BOUND that state (without them it grows
    forever and the job dies at scale):

    1. watermarks on both sides — how late either stream can be;
    2. a time-range join condition (click in
       [purchase_ts - horizon, purchase_ts]) — how long a buffered
       row stays joinable.

    Spark derives each side's eviction point from watermark + range;
    state is O(events within horizon + watermark), independent of
    stream length. Inner join: a purchase with no click in the
    horizon silently drops (use left-outer + watermark for
    "unattributed" rows; emitted only after the horizon closes).
    """
    c = (clicks.select(F.col("user_id").alias("c_user"),
                       F.col("ts").alias("click_ts"),
                       F.col("event_id").alias("click_id"))
         .withWatermark("click_ts", watermark))
    p = (purchases.select(F.col("user_id").alias("p_user"),
                          F.col("ts").alias("purchase_ts"),
                          F.col("event_id").alias("purchase_id"),
                          "value")
         .withWatermark("purchase_ts", watermark))
    cond = ((F.col("c_user") == F.col("p_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts")
               >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}")))
    return (p.join(c, cond)
            .select(F.col("p_user").alias("user_id"), "purchase_id",
                    "click_id", "purchase_ts", "click_ts", "value"))



def stream_hygiene(docs: DataFrame, eval_docs: DataFrame, n: int = 3,
                   max_literal_ngrams: int = 100_000) -> DataFrame:
    """Streaming corpus hygiene: PII scrub + eval-set decontamination
    on documents as they arrive — with ZERO streaming state.

    Scrubbing is stateless row-local regex. Decontamination against a
    static eval corpus does not need a join at all in streaming form:
    the eval n-gram set is finite and known at plan time, so the
    membership test becomes a row-local array predicate —
    ``NOT arrays_overlap(shingles(text), <eval n-grams>)``. No
    shuffle, no state store, no watermark; a doc is checked entirely
    inside its own row. (The batch operator in operators/decontam.py
    keeps the join formulation because batch wants the per-doc hit
    REPORT; streaming hygiene only needs the keep/drop bit.)

    The eval set ships either as a plan literal (small sets — it is
    one array allocated once per codegen'd task) or, above
    ``max_literal_ngrams``, as an Arrow-batched pandas UDF over a
    SparkContext broadcast variable, which is the 100 TB form: the
    driver serializes the set once per executor, not per task, and
    batches amortize the Python hop. The UDF consumes the raw text
    attribute and shingles Python-side (mirroring
    ``text_metrics.words``): a Python UDF whose argument embeds a
    higher-order-function lambda is not reliably extracted into
    ArrowEvalPython (observed: extraction silently skipped after any
    streaming query ran on the session → runtime
    "Cannot evaluate expression" from the interpreted Filter), and a
    plain-attribute input is also one Arrow hop instead of
    JVM-shingle + transfer.
    """
    from mapreducewordcount_spark.functions.pii import scrub_pii
    from mapreducewordcount_spark.functions.text_metrics import shingles
    from mapreducewordcount_spark.operators.decontam import eval_ngram_set

    ngrams = [r.ngram for r in eval_ngram_set(eval_docs, "text", n).collect()]
    if len(ngrams) <= max_literal_ngrams:
        clean = ~F.arrays_overlap(
            shingles("text", n),
            F.array(*[F.lit(g) for g in ngrams]).cast("array<string>"))
    else:
        import re
        import string

        bc = docs.sparkSession.sparkContext.broadcast(frozenset(ngrams))
        ws_re = re.compile(r"\s+", re.UNICODE)
        ends_re = re.compile(
            "^[{p}]+|[{p}]+$".format(p=re.escape(string.punctuation)))

        @F.pandas_udf("boolean")
        def misses_eval(texts: pd.Series) -> pd.Series:
            ev = bc.value

            def check(text: str) -> bool:
                toks = [t for t in (ends_re.sub("", w).lower()
                                    for w in ws_re.split(text or "")) if t]
                return not any(" ".join(toks[i:i + n]) in ev
                               for i in range(len(toks) - n + 1))

            return texts.map(check)

        clean = misses_eval(F.col("text"))
    return (docs
            .withColumn("__keep", clean)
            .filter(F.col("__keep"))
            .drop("__keep")
            .withColumn("text", scrub_pii("text")))


def stream_quality_filter(docs: DataFrame,
                          min_quality: float = 0.5,
                          max_dup_line_frac: float = 0.5,
                          max_top_word_frac: float = 0.5) -> DataFrame:
    """Streaming quality gate: heuristic quality score + Gopher-rule
    repetition caps applied to documents as they arrive.

    Every signal is a row-local column expression
    (functions/text_metrics.quality_score, functions/repetition.*) —
    no state store, no watermark, no shuffle: the filter rides the
    same micro-batch map as the scan, so throughput is the codegen'd
    expression cost and nothing else. The thresholds mirror the batch
    curation defaults so a doc admitted by the stream is a doc the
    batch pipeline would keep (the cross-corpus signals — exact/near
    dup, boilerplate — remain batch-side by nature: their unit of
    evidence spans documents).
    """
    from mapreducewordcount_spark.functions.repetition import (
        dup_line_fraction,
        top_word_fraction,
    )
    from mapreducewordcount_spark.functions.text_metrics import quality_score

    return (docs
            .withColumn("quality", F.round(quality_score("text"), 4))
            .filter((F.col("quality") >= min_quality)
                    & (dup_line_fraction("text") <= max_dup_line_frac)
                    & (top_word_fraction("text") <= max_top_word_frac)))


def stream_source_token_budget(docs: DataFrame,
                               budgets: dict[str, int],
                               default_budget: int = 0) -> DataFrame:
    """Streaming mixture-budget enforcement: admit each source's
    documents until its token budget is exhausted, then mark the
    remainder dropped.

    This is the streaming half of ``operators/packing.mixture_plan``:
    batch planning decides per-source budgets; this operator enforces
    them as documents arrive. Per source key the state is ONE long
    (tokens consumed so far) in the checkpointed state store —
    exactly-once across restarts, memory O(live sources). Rows are
    processed in doc_id order within each micro-batch so admission is
    deterministic for a given arrival sequence; the budget check is
    admit-if-any-room (a doc may overshoot its budget by at most one
    document — the same contract as greedy packing).

    Built on ``applyInPandasWithState``; the per-source admission loop
    is ``_admit_micro_batch``.

    Output: (source, doc_id, n_tokens, admitted, consumed_after).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from mapreducewordcount_spark.functions.text_metrics import token_count

    def enforce(key, pdfs, state: GroupState):
        source = key[0]
        budget = budgets.get(source, default_budget)
        (used,) = state.get if state.exists else (0,)
        out, used = _admit_micro_batch(source, budget, used, pdfs)
        state.update((used,))
        yield out

    sized = docs.select("source", "doc_id",
                        token_count("text").cast("long").alias("n_tokens"))
    return (sized
            .groupBy("source")
            .applyInPandasWithState(
                enforce,
                outputStructType=("source string, doc_id long, "
                                  "n_tokens long, admitted boolean, "
                                  "consumed_after long"),
                stateStructType="used long",
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def _admit_micro_batch(source: str, budget: int, used: int,
                       pdfs) -> tuple[pd.DataFrame, int]:
    """Admission core of :func:`stream_source_token_budget` for one
    source's micro-batch.

    ``pdfs`` is an ITERATOR of Arrow chunks (split at
    maxRecordsPerBatch); sorting per-chunk would order only within a
    chunk and make admission depend on the Arrow batch-size config —
    concatenate first, THEN sort, so the documented doc_id admission
    order holds across the whole micro-batch. Budget check is
    admit-if-any-room: a doc may overshoot by at most one document
    (the greedy-packing contract). Returns (output frame, new used).
    """
    out = []
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        whole = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        for r in whole.sort_values("doc_id").itertuples():
            admit = used < budget
            if admit:
                used += int(r.n_tokens)
            out.append((source, int(r.doc_id), int(r.n_tokens),
                        admit, used))
    frame = pd.DataFrame(out, columns=[
        "source", "doc_id", "n_tokens", "admitted", "consumed_after"])
    return frame, used


# --- streaming CDC: incremental view maintenance over a change feed ---------

def start_cdc_agg_refresh(changes: DataFrame, *, snapshot_dir: str,
                          view_dir: str, checkpoint_dir: str,
                          keys, group_col: str, value_col: str,
                          version_col: str = "_version",
                          op_col: str = "_op",
                          gc_every_n_batches: int | None = None,
                          gc_keep_last: int = 2):
    """Streaming IVM — the MUTATION leg of the streaming family
    (VERDICT r7 next#6): maintain a materialized aggregate view over
    a CDC change feed via ``foreachBatch``, refreshing through the
    same delta rules as the batch operator
    (``operators/ivm.incremental_agg_refresh``) so stream/batch
    parity is an assertion, not a hope.

    State is the pair (snapshot, view), both version-addressed dirs ON
    THE LOCAL FILESYSTEM (``streaming/state``): the caller MUST seed
    the snapshot before ``start()`` (an unseeded dir raises
    immediately, not as an opaque AnalysisException inside the stream
    — ADVICE r8); micro-batch ``b`` reads the highest committed
    snapshot version ≤ b and commits version ``b+1`` of both dirs.
    Version-addressed writes make redelivery idempotent (a replayed
    batch rewrites ITS OWN output version and re-reads its original
    input — epoch-based exactly-once at the sink), and old versions
    double as time travel for the diff/SCD2 companions. A production
    deployment swaps the dirs for a table format with atomic commit;
    the refresh algebra is unchanged.

    Per batch the snapshot is read ONLY through the delta path's
    changed-key semi-join plus the merge's anti-join — O(changes +
    groups) compute. The seed picks the snapshot's commit: seeded at
    ``{snapshot_dir}/v0`` the commit is a full copy (the honest cost
    of plain parquet state); seeded with
    ``state.seed_manifest_state(df, snapshot_dir, keys)`` (the
    table-format seam, VERDICT r9 next#6) it rewrites ONLY the
    buckets the batch's keys touch (copy-on-write) and swaps the
    manifest in atomically — O(changed buckets), not O(|state|). The
    version/redelivery contract is identical.

    ``gc_every_n_batches``/``gc_keep_last`` (VERDICT r11 next#5) wire
    retention of the SNAPSHOT into the commit thread
    (:class:`~mapreducewordcount_spark.streaming.state.StateStore`,
    which also enforces the replay-horizon floor on ``gc_keep_last``).
    The VIEW dir is deliberately not GC'd: it is the stream's output
    history (the diff/SCD2 time-travel surface), not recoverable
    state — prune it with an explicit ``gc_versioned_state(view_dir,
    ...)`` if history isn't wanted.

    Returns the started StreamingQuery (caller stops it).
    """
    from mapreducewordcount_spark.operators.ivm import (
        incremental_agg_refresh,
    )
    from mapreducewordcount_spark.operators.merge import merge_upsert

    klist = list(keys)
    snapshot = StateStore(changes.sparkSession, snapshot_dir,
                          seed="the initial snapshot",
                          gc_every_n_batches=gc_every_n_batches,
                          gc_keep_last=gc_keep_last)

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # normal flow: input version == batch id (seed v0, batch b
        # commits v{b+1}); redelivery re-reads its ORIGINAL input even
        # though its own output version already exists
        in_version = snapshot.input_version(batch_id)
        snap = snapshot.read(in_version)
        batch = batch_df.localCheckpoint(eager=True)  # cut stream lineage

        view = incremental_agg_refresh(snap, batch, klist, group_col,
                                       value_col, version_col=version_col,
                                       op_col=op_col)
        write_version(view, view_dir, batch_id + 1)
        snapshot.upsert(
            snap, batch,
            lambda cur: merge_upsert(cur, batch, klist,
                                     version_col=version_col,
                                     op_col=op_col),
            in_version, batch_id + 1)

    return (changes.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(refresh).start())


def start_chunk_index_maintenance(docs: DataFrame, *, index_dir: str,
                                  report_dir: str, checkpoint_dir: str,
                                  id_col: str = "doc_id",
                                  source_col: str = "source",
                                  text_col: str = "text",
                                  gc_every_n_batches: int | None = None,
                                  gc_keep_last: int = 2):
    """Streaming twin of the round-9 chunk family: as document
    micro-batches arrive, chunk them (``operators/cdchunk``), probe
    the chunk hashes against the maintained index, append a per-batch
    per-source new/dup report, and commit the grown index — the
    continuous-crawl shape where each re-crawled page pays storage
    only for the chunks it actually changed.

    State discipline is identical to :func:`start_cdc_agg_refresh`:
    the index is a version-addressed dir on the LOCAL filesystem that
    must be seeded before ``start()`` (an empty frame with schema
    ``chunk_md5 string, length int`` is a legitimate seed);
    micro-batch ``b`` reads the highest committed version ≤ b and
    writes ``v{b+1}`` of the index plus ``v{b+1}`` of the report, so
    redelivery rewrites its own output version idempotently.

    Per batch the index is touched ONLY through the hash anti-join
    (16-byte keys); chunk bodies never shuffle; the report is one
    grouped aggregate over the batch. Seeded at ``{index_dir}/v0``,
    each version is a full index copy (plain-parquet state's honest
    cost); seeded with ``state.seed_manifest_state(df, index_dir,
    ["chunk_md5"])`` the append-only index commits ONE new segment
    holding the batch's genuinely-new hashes plus a tiny manifest —
    O(new chunks) write cost, not O(|index|).

    ``gc_every_n_batches``/``gc_keep_last`` wire index retention
    into the commit thread exactly as in
    :func:`start_cdc_agg_refresh`: for a manifest index all live
    segments are shared, so superseded manifests are the only garbage
    (the parameter matters more the day a compaction rewrite
    supersedes segments); for a versioned index GC drops old
    full-copy ``v<N>`` dirs, where the win is the entire O(|index|)
    copy per batch.

    Returns the started StreamingQuery (caller stops it).
    """
    from mapreducewordcount_spark.operators.cdchunk import (
        cdc_chunk_table,
    )

    store = StateStore(docs.sparkSession, index_dir,
                       seed="the initial index (an empty "
                            "chunk_md5/length frame is fine)",
                       gc_every_n_batches=gc_every_n_batches,
                       gc_keep_last=gc_keep_last)

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        in_version = store.input_version(batch_id)
        index = store.read(in_version).select("chunk_md5", "length")
        batch = batch_df.localCheckpoint(eager=True)

        chunks = cdc_chunk_table(batch, id_col=id_col,
                                 text_col=text_col)
        with_src = chunks.join(
            batch.select(F.col(id_col).alias("doc_id"), source_col),
            "doc_id")
        probed = with_src.join(
            index.select("chunk_md5").withColumn("__idx", F.lit(1))
                 .distinct(),
            "chunk_md5", "left")
        report = (probed.groupBy(source_col)
                  .agg(F.count(F.lit(1)).alias("n_chunks"),
                       F.sum("length").cast("long").alias("total_chars"),
                       F.sum(F.when(F.col("__idx").isNotNull(),
                                    F.lit(1)).otherwise(F.lit(0)))
                       .cast("long").alias("n_dup_index"),
                       F.sum(F.when(F.col("__idx").isNotNull(),
                                    F.col("length")).otherwise(F.lit(0)))
                       .cast("long").alias("dup_index_chars"))
                  .withColumn("batch_id", F.lit(batch_id).cast("long")))
        write_version(report, report_dir, batch_id + 1)

        fresh = (probed.filter(F.col("__idx").isNull())
                 .groupBy("chunk_md5")
                 .agg(F.min("length").alias("length")))
        # only the versioned commit dedups its rewritten union (a seed
        # with duplicate rows comes out as a set); the manifest append
        # writes just the anti-joined new hashes and never dedups
        store.append(index, fresh.select("chunk_md5", "length"),
                     in_version, batch_id + 1, distinct=True)

    return (docs.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(refresh).start())


def start_reservoir_maintenance(docs: DataFrame, *, state_dir: str,
                                checkpoint_dir: str, k: int = 20,
                                group_col: str = "source",
                                id_col: str = "doc_id",
                                gc_every_n_batches: int | None = None,
                                gc_keep_last: int = 2):
    """Streaming twin of ``doc_reservoir_sample`` — a RUNNING uniform
    k-sample per group over an unbounded document stream, in
    |groups| × k rows of state forever.

    This is exactly why the batch query chose bottom-k-by-hash over
    sequential Algorithm R (queries/pipeline11.py): bottom-k is
    MERGEABLE, so the maintenance step is one line of algebra —
    ``state ← bottom_k(state ∪ batch)`` — and the post-batch state
    provably equals the batch operator over the union of everything
    ever seen (boundary-parity pytest-pinned), with no RNG state to
    checkpoint and replay-stable results (the hash IS the
    randomness; a redelivered batch re-derives the same sample).
    A per-group ``n_seen`` count rides the same state so a consumer
    can turn the sample into rates; it sum-merges exactly.

    State discipline matches :func:`start_cms_heavy_hitters`:
    versioned parquet, NO caller seed (an absent dir IS the empty
    reservoir), batch ``b`` reads the highest committed version ≤ b
    and writes ``v{b+1}`` (idempotent redelivery), and
    ``gc_every_n_batches``/``gc_keep_last`` wire retention into the
    commit thread.

    Returns the started StreamingQuery (caller stops it).
    """
    store = StateStore(docs.sparkSession, state_dir,
                       gc_every_n_batches=gc_every_n_batches,
                       gc_keep_last=gc_keep_last)

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark.sql import Window

        batch = (batch_df
                 .select(F.col(group_col).alias("grp"),
                         F.col(id_col).alias("id"))
                 .groupBy("grp", "id")
                 .agg(F.count(F.lit(1)).alias("n_seen"))
                 .localCheckpoint(eager=True))
        in_version = store.input_version(batch_id)
        if in_version is None:
            pool = batch
            prev_counts = batch.select("grp").limit(0) \
                .withColumn("n_prev", F.lit(0).cast("long"))
        else:
            prev = store.read(in_version)
            pool = prev.select("grp", "id",
                               F.lit(1).cast("long").alias("n_seen")) \
                .unionByName(batch)
            prev_counts = (prev.groupBy("grp")
                           .agg(F.max("n_seen_grp").alias("n_prev")))
        # the shared expression — NOT a local copy — so the
        # stream/batch bottom-k parity can't be broken by editing
        # one side's salt (ADVICE r12)
        from mapreducewordcount_spark.operators.sampling import (
            reservoir_hash,
        )
        hk = reservoir_hash("id")
        w = Window.partitionBy("grp").orderBy(hk, "id")
        # duplicate ids across state∪batch collapse first (an id
        # re-delivered or re-crawled must not occupy two slots)
        dedup = pool.groupBy("grp", "id").agg(
            F.sum("n_seen").alias("__n"))
        kept = (dedup
                .withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") <= k)
                .select("grp", "id"))
        n_batch = batch.groupBy("grp").agg(
            F.sum("n_seen").alias("n_batch"))
        counts = (n_batch.join(prev_counts, "grp", "full")
                  .select("grp",
                          (F.coalesce("n_prev", F.lit(0))
                           + F.coalesce("n_batch", F.lit(0)))
                          .alias("n_seen_grp")))
        store.commit(kept.join(counts, "grp").select(
            "grp", "id", F.col("n_seen_grp").cast("long")), batch_id + 1)

    return (docs.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(refresh).start())


def start_ann_index_maintenance(embs: DataFrame, *, index_dir: str,
                                report_dir: str, checkpoint_dir: str,
                                centroids: DataFrame, books: list,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                gc_every_n_batches: int | None = None,
                                gc_keep_last: int = 2):
    """Streaming twin of the incremental ANN append path (VERDICT r12
    next#5 closed batch-side this round; this is the loop form): as
    embedding micro-batches arrive, route them to the FROZEN coarse
    quantizer, residual-encode against the FROZEN codebooks
    (``operators/pq.ivfpq_append`` — the per-batch work is O(batch)
    regardless of index size, zero shuffle), append a per-list drift
    report, and commit the grown codes index. The continuous form of
    FAISS ``add()``: the model artifacts never change inside the
    loop; the REPORT is what tells the operator the model has gone
    stale (re-train = an offline rebuild, then a new loop seeded
    from it).

    State discipline is :func:`start_chunk_index_maintenance`'s
    verbatim — the codes index is append-only:

    - seeded before ``start()`` with the offline build's codes
      ``(neighbor_id long, list_id long, codes array<int>)`` (an empty
      frame with that schema is a legitimate cold start — the model
      artifacts still come from an offline train), either at
      ``{index_dir}/v0`` (full copy per version) or with
      ``state.seed_manifest_state(codes_df, index_dir,
      ["neighbor_id"])`` (ONE segment of new codes + a manifest per
      version: O(new vectors), not O(|index|)); an unseeded dir
      raises before ``start()``;
    - batch ``b`` reads the highest committed version ≤ b and writes
      ``v{b+1}`` of index AND report — idempotent redelivery; empty
      batches commit nothing (version holes expected);
    - already-indexed ids are dropped by an anti-join on the 8-byte
      key (a re-delivered or re-crawled vector must not occupy two
      index slots);
    - ``gc_every_n_batches``/``gc_keep_last`` wire retention into
      the commit thread (replay-horizon floor enforced).

    The per-batch report row set — ``(list_id, n_new, sum_res2_u,
    mean_res2_new, batch_id)`` with the SHARED µ-scaled integer norm
    (``pq.res2_micro``) — is the trend the consumer watches: a batch
    whose per-list mean residual norm runs persistently above the
    build-time level means the frozen centroids describe arriving
    data worse (the batch analog of ``ivfpq_append_report``'s
    drift_ratio; sums are exact integers so any window of report
    versions re-aggregates exactly).

    Returns the started StreamingQuery (caller stops it).
    """
    from mapreducewordcount_spark.operators import pq

    store = StateStore(embs.sparkSession, index_dir,
                       seed="the offline build's codes (an empty "
                            "neighbor_id/list_id/codes frame is a "
                            "legitimate cold start)",
                       gc_every_n_batches=gc_every_n_batches,
                       gc_keep_last=gc_keep_last)

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        in_version = store.input_version(batch_id)
        index = store.read(in_version).select("neighbor_id", "list_id",
                                              "codes")
        batch = batch_df.localCheckpoint(eager=True)

        fresh = (batch
                 .select(F.col(id_col).alias("neighbor_id"), vec_col)
                 .join(index.select("neighbor_id"), "neighbor_id",
                       "left_anti"))
        # ivfpq_append unrolled so the assign — upstream of BOTH the
        # report (residuals) and the commit (codes) — checkpoints
        # once and neither consumer re-runs the Arrow argmax
        from mapreducewordcount_spark.operators.similarity import (
            ivf_assign,
        )

        assigned_new = ivf_assign(
            fresh, centroids, id_col="neighbor_id",
            vec_col=vec_col).localCheckpoint(eager=True)
        codes_new = pq.pq_encode(
            pq.ivfpq_residuals(assigned_new, centroids), books,
            id_col="neighbor_id", vec_col="res") \
            .join(assigned_new.select("neighbor_id", "list_id"),
                  "neighbor_id")

        report = (pq.ivfpq_residuals(assigned_new, centroids)
                  .select("list_id",
                          pq.res2_micro("res").alias("res2_u"))
                  .groupBy("list_id")
                  .agg(F.count(F.lit(1)).cast("long").alias("n_new"),
                       F.sum("res2_u").cast("long")
                       .alias("sum_res2_u"))
                  .select("list_id", "n_new", "sum_res2_u",
                          F.round(F.col("sum_res2_u")
                                  / F.col("n_new") / F.lit(1e6), 6)
                          .alias("mean_res2_new"),
                          F.lit(batch_id).cast("long")
                          .alias("batch_id")))
        write_version(report, report_dir, batch_id + 1)
        store.append(index,
                     codes_new.select("neighbor_id", "list_id", "codes"),
                     in_version, batch_id + 1)

    return (embs.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(refresh).start())
