"""Oracle artifacts: committed model tables for the DuckDB oracles.

Some registry queries have a model stage DuckDB cannot reproduce
(hash families, numpy banding, k-means / PQ float loops, BPE, zlib,
HLL++, langid / DSIR / IPF fits, chunk boundaries). Each such stage's
output table is committed as parquet under ``artifacts/sig_oracle/``,
and the query's oracle recomputes everything DOWNSTREAM of it in
plain SQL from those bytes (``frame_cte``, ``clique_pairs_sql``,
``star_pairs_sql``); the model stage itself stays pytest-pinned.

Queries never touch the directory: each builds its model frame in its
own plan. One refresh path, ``tools/refresh_artifacts.py`` over
``queries/artifact_families.ARTIFACT_FAMILIES``, writes the artifacts
through ``materialize_frame`` / ``materialize_signatures`` or, in
check mode, compares them with what the queries compute.

Addressing: the oracle SQL is a static string run at whatever sf_dir
the driver registered its views on, so each artifact directory is
keyed by a corpus fingerprint computable on BOTH sides (e.g. row
count and total text chars of ``documents``), carried on every row
for the oracle's WHERE clause.
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
    side tag and reduced in a single two-group aggregate (the
    per-side bit_xor and row count), instead of one job per side."""
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


def frame_artifact(df: DataFrame, query_name: str,
                   key: tuple[int, int]) -> tuple[DataFrame, Path]:
    """(``df`` plus the key columns ``k_rows``/``k_sum``, the file it
    is committed as) for a model-table artifact — the layout
    ``frame_cte`` reads."""
    n, s = key
    out = (df.withColumn("k_rows", F.lit(n).cast("long"))
           .withColumn("k_sum", F.lit(s).cast("long")))
    return out, ARTIFACT_ROOT / query_name / f"k={n}_{s}" / "data.parquet"


def signature_artifact(sigs: DataFrame, query_name: str,
                       key: tuple[int, int], id_col: str,
                       sig_col: str) -> tuple[DataFrame, Path]:
    """(the (id, sig) table plus the documents key columns, the file
    it is committed as) for a 64-bit-signature artifact — the layout
    ``clique_pairs_sql`` / ``star_pairs_sql`` read."""
    n, chars = key
    out = (sigs.select(F.col(id_col).cast("long").alias("id"),
                       F.col(sig_col).cast("long").alias("sig"))
           .withColumn("n_docs", F.lit(n).cast("long"))
           .withColumn("text_chars", F.lit(chars).cast("long")))
    return out, ARTIFACT_ROOT / query_name / f"k={n}_{chars}" / "sig.parquet"


def matches_committed(out: DataFrame, target: Path) -> bool:
    """True iff the committed file ``target`` holds exactly the values
    of ``out`` (same columns, same rows in any order)."""
    if not target.exists():
        return False
    existing = out.sparkSession.read.parquet(str(target))
    return (sorted(existing.columns) == sorted(out.columns)
            and _content_match(existing, out))


def materialize_frame(df: DataFrame, query_name: str,
                      key: tuple[int, int], sort_cols: list[str]) -> Path:
    """Refresh writer for a model-table artifact: commit ``df`` for
    corpus ``key`` under ``query_name``; ``sort_cols`` pins a
    byte-stable row order. Returns the artifact file."""
    out, target = frame_artifact(df, query_name, key)
    return _write_artifact(out, target, sort_cols)


def materialize_signatures(sigs: DataFrame, query_name: str,
                           key: tuple[int, int], id_col: str,
                           sig_col: str) -> Path:
    """Refresh writer for a signature artifact: commit
    (``id_col``, ``sig_col``) as (id, sig) longs for corpus ``key``
    under ``query_name``. Returns the artifact file."""
    out, target = signature_artifact(sigs, query_name, key, id_col,
                                     sig_col)
    return _write_artifact(out, target, ["id"])


def _write_artifact(out: DataFrame, target: Path,
                    sort_cols: list[str]) -> Path:
    """Write ``out`` as the single parquet file ``target`` — UNLESS it
    already holds exactly these values, in which case the committed
    file is left byte-for-byte untouched: parquet bytes are NOT
    deterministic across sessions (the footer's column-chunk
    encodings list is serialized in varying order), so an
    unconditional rewrite would churn git on every refresh.

    The rewrite stages through ``ARTIFACT_ROOT/.tmp`` (pid-suffixed,
    OUTSIDE the oracle's ``<query>/*/*.parquet`` glob) and swaps the
    committed file in with one ``os.replace``: the old artifact stays
    readable until the new one fully exists, and a crash mid-write
    leaves the commit untouched.
    """
    import os
    import shutil

    try:
        if matches_committed(out, target):
            return target
    except Exception as exc:  # noqa: BLE001 — unreadable artifact
        # → rewrite, but LOUDLY: a comparator bug here once silently
        # churned every committed artifact (r14) — the healthy paths
        # are value-match (skip) or value-drift (rewrite after a CLEAN
        # compare); an exception is neither
        import sys
        print(f"artifact compare failed for {target}, rewriting: "
              f"{exc!r}", file=sys.stderr)
    path = target.parent
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
    return target


def frame_cte(name: str, query_name: str,
              key_sql: tuple[str, str] = EMB_KEY_SQL) -> str:
    """`name AS (SELECT ... FROM <artifact glob> WHERE key matches)`
    CTE body for a ``frame_artifact`` artifact."""
    glob = str(ARTIFACT_ROOT / query_name / "*" / "*.parquet")
    return f"""
{name} AS (
  SELECT * EXCLUDE (k_rows, k_sum) FROM read_parquet('{glob}')
  WHERE k_rows = {key_sql[0]} AND k_sum = {key_sql[1]}
)
"""


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
