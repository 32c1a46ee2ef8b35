"""Signature-artifact materialization: hash oracles for hash-family ops.

The three 64-bit-signature queries (``dedup_simhash_pairs``,
``media_image_dhash_pairs``, ``media_audio_fp_pairs``) depend on hash
families DuckDB cannot reproduce (xxhash64 simhash, PNG-decode dHash,
WAV energy-delta fingerprints), so through round 5 they carried
rows-only driver checks. This module flips their JOIN STAGE to a full
value-hash oracle (VERDICT r5 next#5): the engine materializes its
(id, signature) table to a parquet artifact inside the repo, re-reads
it as the join input, and the DuckDB oracle recomputes the banded
Hamming join + popcount verify from the same artifact with plain SQL
(``xor`` + ``bit_count``). The signature computation itself stays
pytest-pinned (parity, invariance, planted-pair tests); everything
downstream of it — candidate banding, popcount verify, the
clique/star Hamming-0 contract — gets the same three-check driver row
as any SQL query.

Artifact addressing: the oracle SQL is a static string, but the gate
runs at whatever sf_dir the driver registered its views on, so each
artifact directory is keyed by a corpus fingerprint computable on
BOTH sides — (row count, total text chars) of the ``documents``
table — and every row carries the key so the oracle's glob scan can
select the right corpus with a WHERE clause. Artifacts for the three
driver sfs are committed to git, which makes the oracle independent
of execution order: a fresh checkout already holds the (deterministic)
bytes the next engine run would write.

Scale note: materializing signatures is not a test-only detour — it
is exactly the production shape (a 16-byte/doc signature table is the
persisted index that incremental dedup probes; see
``incremental_dedup_report``). The ``coalesce(1)`` here is sized for
the oracle artifact, not for a 100 TB run, where the write would keep
its natural partitioning.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

REPO_ROOT = Path(__file__).resolve().parents[2]
ARTIFACT_ROOT = REPO_ROOT / "artifacts" / "sig_oracle"


def corpus_key(docs: DataFrame) -> tuple[int, int]:
    """(n_rows, total text chars) — the cross-engine corpus id.

    Distinguishes every driver corpus (sf0.001 and sf0.01 both have
    500 docs but 153,156 vs 149,174 chars); DuckDB computes the same
    pair as ``(count(*), sum(length(text)))``. One small aggregate
    job per call.
    """
    row = docs.agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.length("text")).alias("chars")).first()
    return int(row.n), int(row.chars or 0)


#: DuckDB-side expressions for the documents corpus key — must stay
#: in lockstep with ``corpus_key``.
DOC_KEY_SQL = (
    "(SELECT count(*) FROM documents)",
    "(SELECT sum(length(text)) FROM documents)",
)

#: DuckDB-side expressions for the embeddings corpus key — must stay
#: in lockstep with ``embeddings_corpus_key``. ``floor`` (not round)
#: because both engines floor IEEE doubles identically; the element is
#: EXPLICITLY widened float32 → float64 on both sides before the
#: ×1000 multiply (without the cast, both engines multiply at float32
#: — Spark promotes the int literal to FloatType — which happened to
#: agree but was never the documented contract; ADVICE r6), so the
#: double product is bit-identical and the sum integer-exact.
#: Cross-engine equality is pinned by
#: tests/test_sig_artifacts.py::test_emb_corpus_key_matches_duckdb.
EMB_KEY_SQL = (
    "(SELECT count(*) FROM embeddings)",
    "(SELECT sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000)"
    " AS BIGINT)) FROM embeddings)",
)


#: DuckDB-side expressions for the lineitem corpus key — must stay in
#: lockstep with ``lineitem_corpus_key``. Both components are integer
#: aggregates (COUNT + SUM of an integer key column), so the pair is
#: exact on both engines; the CAST collapses DuckDB's HUGEINT sum.
LINEITEM_KEY_SQL = (
    "(SELECT count(*) FROM lineitem)",
    "(SELECT CAST(sum(l_orderkey) AS BIGINT) FROM lineitem)",
)


def lineitem_corpus_key(l: DataFrame) -> tuple[int, int]:
    """(n_rows, Σ l_orderkey) — the lineitem analog of ``corpus_key``
    for artifacts whose model table derives from the fact table."""
    row = l.agg(F.count(F.lit(1)).alias("n"),
                F.sum("l_orderkey").alias("s")).first()
    return int(row.n), int(row.s or 0)


def embeddings_corpus_key(emb: DataFrame,
                          vec_col: str = "embedding") -> tuple[int, int]:
    """(n_rows, Σ floor(first_component × 1000)) — the embeddings
    analog of ``corpus_key``: sf0.001 and sf0.01 both have 500
    vectors, but the floor-sums differ (-1712 vs 826). Integer-only
    on both engines, so the artifact WHERE clause matches exactly."""
    row = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col(vec_col)[0].cast("double") * 1000)
              .cast("long")).alias("s")
    ).first()
    return int(row.n), int(row.s or 0)


#: (query_name, key) families whose artifact THIS process already
#: verified or wrote — see ``materialize_frame``. The artifact-
#: freshness test clears this set so its recompute stays genuine.
_SESSION_VERIFIED: set = set()


def materialize_frame(df, query_name: str,
                      key: tuple[int, int],
                      sort_cols: list[str],
                      memo_token: str | None = None,
                      columns: list[str] | None = None,
                      spark=None) -> DataFrame:
    """Generalized artifact writer: persist ALL columns of ``df``
    (plus the two key columns ``k_rows``/``k_sum``) to the artifact
    dir for ``query_name`` and return the frame re-read from the
    written parquet, key columns dropped. ``sort_cols`` pins a
    byte-stable row order so deterministic re-runs leave git clean.

    Same contract as ``materialize_signatures`` but for arbitrary
    engine-computed model tables (band keys, cluster assignments,
    centroid tables): the DuckDB oracle recomputes everything
    DOWNSTREAM of the artifact in SQL, while the artifact content
    itself stays pytest-pinned.

    Session memoization (round 9): the FIRST call per (query_name,
    key) in a process verifies/writes as always (full model recompute
    + content compare); later calls return the committed bytes
    directly — the chunk family alone has four gate queries sharing
    one artifact, and each redundant verify costs ~1.8 s at sf0.1
    (2.0 s vs 0.24 s plain read, measured). The memo is keyed on the
    incoming frame's ANALYZED-PLAN fingerprint (``semanticHash``) as
    well as (query_name, key), so two queries of one family that ever
    diverge in how they build the model table stop sharing the hit
    and the second one re-verifies against the committed bytes
    (ADVICE r9 — without the fingerprint the divergence was silently
    masked until the freshness test ran). The freshness test still
    clears ``_SESSION_VERIFIED`` so its own recompute stays genuine.

    ``memo_token`` (round 11): frames whose lineage ends in a
    driver-side bounded collect + ``createDataFrame`` (langid/DSIR
    weights, the IPF grid) get a FRESH LogicalRDD id per call, so
    their semanticHash never repeats and the memo never hits — every
    invocation re-ran the full model fit + verify (measured as the
    mixture query's 1.77× bench inflation once it stopped sharing
    doc_language_ngram's artifact). Such call sites pass a stable
    token that replaces the semanticHash in the memo key. Safety is
    unchanged: the FIRST call per session still recomputes and
    verifies against the committed bytes, and the divergence guard
    only needs distinct tokens at distinct call sites — give every
    call site its own token string. Because a token REPLACES the
    plan fingerprint, a same-session plan change at a token-keyed
    call site would otherwise be invisible to the memo (ADVICE r11),
    so the sorted column set — stable for a given model recipe,
    different the moment the call site starts building a different
    table — is folded into the key alongside the token: a column-set
    change misses the memo and falls through to the full
    recompute-and-verify path instead of silently serving the
    committed bytes.

    ``df`` may be a ZERO-ARG CALLABLE returning the frame (requires
    ``memo_token``, ``columns`` and ``spark`` — round 13): on a
    session-memo hit the thunk is never invoked, so the bounded model
    fit behind it (the langid/DSIR/IPF collect + ``createDataFrame``,
    ~1-2 s each at sf0.1) runs once per session instead of once per
    invocation. Safety is unchanged — the FIRST call per (query_name,
    key, token) still runs the full fit and verifies against the
    committed bytes, and the declared ``columns`` are asserted against
    the materialized frame on that call, so the column-set divergence
    guard keeps its teeth.
    """
    n, s = key
    path = ARTIFACT_ROOT / query_name / f"k={n}_{s}"
    target_path = path / "data.parquet"
    lazy = callable(df)
    if lazy and (memo_token is None or columns is None or spark is None):
        raise ValueError("lazy materialize_frame requires memo_token, "
                         "columns and spark")
    col_key = (tuple(sorted(columns)) if lazy
               else tuple(sorted(df.columns)))
    memo_key = (query_name, key,
                memo_token if memo_token is not None
                else df.semanticHash(),
                col_key)
    if memo_key in _SESSION_VERIFIED and target_path.exists():
        session = spark if lazy else df.sparkSession
        return (session.read.parquet(str(target_path))
                .drop("k_rows", "k_sum"))
    if lazy:
        df = df()
        if tuple(sorted(df.columns)) != col_key:
            raise ValueError(
                f"lazy materialize_frame({query_name!r}): declared "
                f"columns {sorted(col_key)} != materialized "
                f"{sorted(df.columns)}")
    out = (df.withColumn("k_rows", F.lit(n).cast("long"))
           .withColumn("k_sum", F.lit(s).cast("long")))
    target = _write_artifact(out, path, "data.parquet", sort_cols)
    _SESSION_VERIFIED.add(memo_key)
    return (df.sparkSession.read.parquet(str(target))
            .drop("k_rows", "k_sum"))


def _row_hash(df: DataFrame):
    """Per-row xxhash64 over the stringified row (sorted column
    order) — the shared kernel of the order-independent content
    fingerprint. XOR-merged (not summed) downstream — an ANSI session
    raises on long-sum overflow, and artifact rows are unique so
    XOR's duplicate-pair cancellation can't bite."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
            for c in sorted(df.columns)]
    return df.select(F.xxhash64(*cols).alias("__h"))


def _content_match(a: DataFrame, b: DataFrame) -> bool:
    """True iff both frames hold the same value content — ONE Spark
    job (round 14): the two sides' row hashes are unioned under a
    side tag and reduced in a single two-group aggregate, where the
    old shape hashed each frame in its own sequential job, each
    paying its own job-launch latency; the honest bench re-verifies
    every artifact on every rep, so the redundant launch was paid
    ~60× per session. The per-side (bit_xor, count) pairs are exactly
    what the two-job form compared."""
    tagged = (_row_hash(a).withColumn("__side", F.lit(0))
              .unionByName(_row_hash(b).withColumn("__side", F.lit(1))))
    rows = (tagged.groupBy("__side")
            .agg(F.expr("bit_xor(__h)").alias("h"),
                 F.count(F.lit(1)).alias("n")).collect())
    # index access, NOT r.__side: Row.__getattr__ raises on dunder-
    # prefixed names, and the caller's unreadable-artifact except
    # would turn that into a spurious full rewrite
    sides = {r["__side"]: (r["h"], r["n"]) for r in rows}
    return sides.get(0, (None, 0)) == sides.get(1, (None, 0))


def _write_artifact(out: DataFrame, path, filename: str,
                    sort_cols: list[str]):
    """Write ``out`` as a single stable-named parquet file — UNLESS an
    existing artifact already holds exactly these values, in which
    case the committed file is left byte-for-byte untouched.

    The skip matters twice over: parquet bytes are NOT deterministic
    across sessions (the footer's column-chunk encodings list is
    serialized in varying order), so an unconditional rewrite would
    churn git on every gate/test run; and leaving the committed bytes
    in place is what lets an oracle-first execution order (fresh
    checkout) read the same values the engine would produce. Value
    drift (a changed hash family) still rewrites — the artifact
    self-heals and the freshness test fails loudly.

    The rewrite stages through ``ARTIFACT_ROOT/.tmp`` (pid-suffixed,
    OUTSIDE the oracle's ``<query>/*/*.parquet`` glob) and swaps the
    committed file in with one ``os.replace``: the old artifact stays
    readable until the new one fully exists, a crash mid-write leaves
    the commit untouched, and two concurrent materializers cannot
    clobber each other's half-written part files.
    """
    import os
    import shutil

    spark = out.sparkSession
    target = path / filename
    if target.exists():
        try:
            existing = spark.read.parquet(str(target))
            if (sorted(existing.columns) == sorted(out.columns)
                    and _content_match(existing, out)):
                return target
        except Exception as exc:  # noqa: BLE001 — unreadable artifact
            # → rewrite (self-heal), but LOUDLY: a comparator bug here
            # once silently churned every committed artifact (r14) —
            # the healthy paths are value-match (skip) or value-drift
            # (rewrite after a CLEAN compare); an exception is neither
            import sys
            print(f"artifact compare failed for {target}, rewriting: "
                  f"{exc!r}", file=sys.stderr)
    tmp = (ARTIFACT_ROOT / ".tmp"
           / f"{path.parent.name}_{path.name}_{os.getpid()}")
    try:
        (out.coalesce(1)
         .sortWithinPartitions(*sort_cols)
         .write.mode("overwrite").parquet(str(tmp)))
        part, = sorted(tmp.glob("part-*.parquet"))
        path.mkdir(parents=True, exist_ok=True)
        os.replace(part, target)  # atomic on one filesystem
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for extra in path.iterdir():
        # stale siblings from the pre-staging scheme (_SUCCESS, .crc)
        if extra.name != filename and extra.is_file():
            extra.unlink()
    return target


def frame_cte(name: str, query_name: str,
              key_sql: tuple[str, str] = EMB_KEY_SQL) -> str:
    """`name AS (SELECT ... FROM <artifact glob> WHERE key matches)`
    CTE body for a ``materialize_frame`` artifact."""
    glob = str(ARTIFACT_ROOT / query_name / "*" / "*.parquet")
    return f"""
{name} AS (
  SELECT * EXCLUDE (k_rows, k_sum) FROM read_parquet('{glob}')
  WHERE k_rows = {key_sql[0]} AND k_sum = {key_sql[1]}
)
"""


def materialize_signatures(sigs: DataFrame, query_name: str,
                           key: tuple[int, int],
                           id_col: str, sig_col: str,
                           memo_token: str | None = None) -> DataFrame:
    """Write (id, sig) + corpus-key columns to the artifact dir for
    ``query_name`` and return the frame RE-READ from the written
    parquet — the join below consumes byte-for-byte what the oracle
    scans.

    ``memo_token`` opts into the same session memoization contract as
    ``materialize_frame`` (round 13; these frames end in a pandas_udf
    whose plan fingerprint is not reliably stable, so the token form
    is used): the FIRST call per (query_name, key, token) in a
    process recomputes the signature pipeline and verifies it against
    the committed bytes as always; later same-session calls serve the
    committed parquet directly — the signature queries re-ran their
    full Arrow decode + content-hash compare on every invocation
    (~1.2-1.8 s each at sf0.1) for bytes the session had already
    proven.

    Guard note (ADVICE r13): the memo key folds the CONSTANT column
    set ``("id", "sig")``, so unlike token-keyed ``materialize_frame``
    sites the column-set divergence guard is vacuous here — within one
    long-lived process, a plan change at a signature call site with an
    unchanged (query_name, key, token) would keep serving the
    committed bytes without re-verifying. Accepted because the first
    call per process always recomputes and verifies, and each call
    site owns a distinct token; give any NEW signature recipe a new
    token string."""
    n, chars = key
    path = ARTIFACT_ROOT / query_name / f"k={n}_{chars}"
    target_path = path / "sig.parquet"
    memo_key = (query_name, key, memo_token, ("id", "sig"))
    if (memo_token is not None and memo_key in _SESSION_VERIFIED
            and target_path.exists()):
        return (sigs.sparkSession.read.parquet(str(target_path))
                .select("id", "sig"))
    out = (sigs.select(F.col(id_col).cast("long").alias("id"),
                       F.col(sig_col).cast("long").alias("sig"))
           .withColumn("n_docs", F.lit(n).cast("long"))
           .withColumn("text_chars", F.lit(chars).cast("long")))
    target = _write_artifact(out, path, "sig.parquet", ["id"])
    if memo_token is not None:
        _SESSION_VERIFIED.add(memo_key)
    return (sigs.sparkSession.read.parquet(str(target))
            .select("id", "sig"))


def _artifact_cte(query_name: str) -> str:
    glob = str(ARTIFACT_ROOT / query_name / "*" / "*.parquet")
    return f"""
s AS (
  SELECT id, sig FROM read_parquet('{glob}')
  WHERE n_docs = (SELECT count(*) FROM documents)
    AND text_chars = (SELECT sum(length(text)) FROM documents)
)
"""


def clique_pairs_sql(query_name: str, max_hamming: int) -> str:
    """Oracle for ``signature_hamming_pairs`` in clique mode: every
    (a < b) pair within the radius, exact popcount."""
    return f"""
WITH {_artifact_cte(query_name)}
SELECT a.id AS a_id, b.id AS b_id,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM s a JOIN s b ON a.id < b.id
WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
"""


def star_pairs_sql(query_name: str, max_hamming: int) -> str:
    """Oracle for ``collapse_identical=True``: identical-signature
    clusters emit (min-id rep, member) Hamming-0 rows; the in-radius
    join runs over cluster representatives only."""
    return f"""
WITH {_artifact_cte(query_name)},
reps AS (SELECT sig, min(id) AS rid FROM s GROUP BY sig),
star AS (
  SELECT r.rid AS a_id, s.id AS b_id, 0 AS hamming
  FROM s JOIN reps r ON s.sig = r.sig AND s.id <> r.rid
),
near AS (
  SELECT a.rid AS a_id, b.rid AS b_id,
         bit_count(xor(a.sig, b.sig)) AS hamming
  FROM reps a JOIN reps b ON a.rid < b.rid
  WHERE bit_count(xor(a.sig, b.sig)) BETWEEN 1 AND {max_hamming}
)
SELECT a_id, b_id, CAST(hamming AS INT) AS hamming FROM star
UNION ALL
SELECT a_id, b_id, CAST(hamming AS INT) AS hamming FROM near
"""
