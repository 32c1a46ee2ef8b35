"""Oracle-artifact plumbing (sources/sig_artifacts.py,
queries/artifact_families.py, tools/refresh_artifacts.py).

The full three-check comparison of the artifact queries against
their oracles runs in tests/test_oracle.py's registry sweep; here we
pin the plumbing that sweep relies on: the cross-engine corpus key,
the artifact's byte-stable layout, committed bytes that equal what
the queries compute (at any partitioning), and queries that never
write the artifact tree.
"""

from __future__ import annotations

import hashlib
import importlib.util
from pathlib import Path

import duckdb
import pytest

from mapreducewordcount_spark.queries.artifact_families import (
    ARTIFACT_FAMILIES,
)
from mapreducewordcount_spark.sources.sig_artifacts import (
    ARTIFACT_ROOT,
    REPO_ROOT,
    corpus_key,
    materialize_signatures,
)
from tests.conftest import SF_ORACLE, SF_SMOKE


def _refresh_tool():
    spec = importlib.util.spec_from_file_location(
        "refresh_artifacts", REPO_ROOT / "tools" / "refresh_artifacts.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_corpus_key_matches_duckdb(spark):
    """The Spark side of the key must equal what the oracle's WHERE
    clause computes — (count(*), sum(length(text))) — or the glob scan
    selects no artifact and the oracle silently returns zero rows."""
    from mapreducewordcount_spark.sources.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    n, chars = corpus_key(docs)
    dn, dchars = duckdb.sql(
        f"SELECT count(*), sum(length(text)) "
        f"FROM '{SF_ORACLE}/documents.parquet'").fetchone()
    assert (n, chars) == (dn, dchars)


def test_corpus_key_distinguishes_driver_corpora(spark):
    """sf0.001 and sf0.01 both have 500 documents; the chars component
    must tell them apart or their artifacts would collide."""
    from mapreducewordcount_spark.sources.tables import load_table

    keys = {corpus_key(load_table(spark, sf, "documents"))
            for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01")}
    assert len(keys) == 2


def test_materialize_roundtrip_and_stable_layout(spark, tmp_path,
                                                 monkeypatch):
    from mapreducewordcount_spark.sources import sig_artifacts

    monkeypatch.setattr(sig_artifacts, "ARTIFACT_ROOT", tmp_path)
    sigs = spark.createDataFrame(
        [(3, 7), (1, -5), (2, 0)], "doc_id long, s long")
    key = (3, 42)
    target = materialize_signatures(sigs, "test_roundtrip", key,
                                    "doc_id", "s")
    back = spark.read.parquet(str(target)).select("id", "sig")
    assert {(r.id, r.sig) for r in back.collect()} \
        == {(3, 7), (1, -5), (2, 0)}
    art = tmp_path / "test_roundtrip" / "k=3_42"
    assert [p.name for p in art.iterdir()] == ["sig.parquet"]
    # key columns ride every row so the oracle's WHERE can select
    row = duckdb.sql(f"SELECT DISTINCT n_docs, text_chars "
                     f"FROM '{art}/sig.parquet'").fetchone()
    assert row == (3, 42)


def test_emb_corpus_key_matches_duckdb(spark):
    """Embeddings analog of test_corpus_key_matches_duckdb: 11 of the
    13 artifact-oracle CTEs key on embeddings_corpus_key/EMB_KEY_SQL,
    and a cross-engine divergence (the float32→float64 widening point
    of the ×1000 multiply, ADVICE r6) empties every one of them with a
    confusing zero-rows failure — pin the equality directly."""
    from mapreducewordcount_spark.sources.sig_artifacts import (
        EMB_KEY_SQL,
        embeddings_corpus_key,
    )
    from mapreducewordcount_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS "
            f"SELECT * FROM '{SF_ORACLE}/embeddings.parquet'")
    dn, ds = con.sql(
        f"SELECT {EMB_KEY_SQL[0]}, {EMB_KEY_SQL[1]}").fetchone()
    assert embeddings_corpus_key(emb) == (dn, ds)


def _artifact_queries() -> list[str]:
    """Registry queries whose oracle reads the artifact tree."""
    from mapreducewordcount_spark.queries import all_queries

    return sorted(n for n, q in all_queries().items()
                  if q.oracle_sql and str(ARTIFACT_ROOT) in q.oracle_sql)


def _tree_digest(root: Path) -> dict:
    return {p.relative_to(root).as_posix():
            hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(root.rglob("*")) if p.is_file()}


@pytest.mark.slow  # heavy sweep: default tier skips (pytest.ini, r14)
def test_committed_artifacts_match_fresh_recompute(spark):
    """The committed artifact bytes are what the oracles read, and a
    query matches its oracle only while they equal the model frame
    the query builds in-plan. Run the refresh path in check mode over
    EVERY family at the oracle sf: a regression in any model stage
    (simhash, dHash, audio FP, band keys, k-means assignments, ADC
    shortlist, zlib counts, BPE table, ...) shows up here as a stale
    artifact, and nothing is written."""
    on_disk = {p.name for p in ARTIFACT_ROOT.iterdir()
               if p.is_dir() and p.name != ".tmp"}
    assert on_disk == set(ARTIFACT_FAMILIES), \
        "artifact family map out of date — update ARTIFACT_FAMILIES"
    before = _tree_digest(ARTIFACT_ROOT)
    stale = _refresh_tool().refresh(spark, SF_ORACLE, check=True)
    assert not stale, \
        f"model frames differ from committed artifacts: {stale} — a " \
        "model stage changed; run tools/refresh_artifacts.py and " \
        "commit the new artifacts"
    assert _tree_digest(ARTIFACT_ROOT) == before


@pytest.mark.parametrize("family", sorted(ARTIFACT_FAMILIES))
def test_family_model_is_partition_invariant(spark, family):
    """Queries consume their model frames in-plan, so each must equal
    its committed artifact however the session partitions the work:
    1 and 7 shuffle partitions, sf0.001."""
    tool = _refresh_tool()
    conf = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(conf)
    try:
        for parts in ("1", "7"):
            spark.conf.set(conf, parts)
            assert not tool.refresh(spark, SF_SMOKE, check=True,
                                    families=[family]), \
                f"{family} differs from its artifact at {parts} partitions"
    finally:
        spark.conf.set(conf, prior)


def test_artifact_queries_never_write(spark, monkeypatch):
    """Running a query never writes into the repository: every query
    whose oracle reads an artifact runs with the artifact writer
    disabled, and the ``artifacts/`` tree is byte-identical after."""
    from mapreducewordcount_spark.queries import all_queries
    from mapreducewordcount_spark.sources import sig_artifacts

    def refuse(*_args, **_kwargs):
        raise AssertionError("a query tried to write an artifact")

    monkeypatch.setattr(sig_artifacts, "_write_artifact", refuse)
    specs, names = all_queries(), _artifact_queries()
    read = {f for f in ARTIFACT_FAMILIES for n in names
            if f"/{f}/" in specs[n].oracle_sql}
    assert read == set(ARTIFACT_FAMILIES)  # every family is exercised
    before = _tree_digest(REPO_ROOT / "artifacts")
    for name in names:
        (specs[name].spark_fn(spark, SF_SMOKE)
         .write.mode("overwrite").format("noop").save())
        spark.catalog.clearCache()
    assert _tree_digest(REPO_ROOT / "artifacts") == before


def test_artifact_query_paths_match_one_shot_operators(spark):
    """The gate queries compose a model builder with a downstream
    stage; their docstrings claim output identical to the one-shot
    operators for the same parameters. Pin it — a drifted default
    (band count, refine, k) would silently decouple what the gate
    verifies from what the library ships."""
    from mapreducewordcount_spark.operators import dedup as dd
    from mapreducewordcount_spark.operators.pq import pq_topk
    from mapreducewordcount_spark.operators.similarity import lsh_topk
    from mapreducewordcount_spark.queries.dedup_queries import (
        ann_lsh_topk,
        ann_pq_topk,
        dedup_embedding_pairs_lsh,
    )
    from mapreducewordcount_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))

    via_artifact = {tuple(r) for r in
                    dedup_embedding_pairs_lsh(spark, SF_ORACLE).collect()}
    direct = {tuple(r) for r in
              dd.embedding_dup_pairs_lsh(emb, threshold=0.45).collect()}
    assert via_artifact == direct

    via_artifact = {tuple(r) for r in
                    ann_lsh_topk(spark, SF_ORACLE).collect()}
    direct = {tuple(r) for r in lsh_topk(emb, queries, k=5).collect()}
    assert via_artifact == direct

    via_artifact = {tuple(r) for r in ann_pq_topk(spark, SF_ORACLE).collect()}
    direct = {tuple(r) for r in pq_topk(emb, queries, k=5).collect()}
    assert via_artifact == direct


def test_content_match_one_job_semantics(spark):
    """Round 14: the artifact value compare runs as ONE union+aggregate
    job. Semantics must equal the old two-hash compare: row-order
    independent, value- and count-sensitive, empty-vs-empty equal.
    Also a regression pin for the dunder-field Row access bug: a
    failure INSIDE the comparator is swallowed by the caller's
    unreadable-artifact except and silently rewrites every committed
    artifact, so the comparator itself must never raise on the happy
    path."""
    from mapreducewordcount_spark.sources.sig_artifacts import (
        _content_match,
    )

    a = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    b = spark.createDataFrame([(2, "y"), (1, "x")], "id long, v string")
    c = spark.createDataFrame([(1, "x"), (2, "z")], "id long, v string")
    e = spark.createDataFrame([], "id long, v string")
    assert _content_match(a, b) is True      # order-independent
    assert _content_match(a, c) is False     # value-sensitive
    assert _content_match(e, e) is True      # both empty
    assert _content_match(a, e) is False     # count-sensitive


def test_write_artifact_skips_rewrite_when_values_match(spark, tmp_path,
                                                        monkeypatch):
    """The committed-bytes skip must survive the one-job comparator: a
    value-identical rematerialization leaves the artifact file's bytes
    (mtime/inode included) untouched — the property that keeps git
    clean across gate/test runs and that the r14 comparator bug broke."""
    import os

    from mapreducewordcount_spark.sources import sig_artifacts

    monkeypatch.setattr(sig_artifacts, "ARTIFACT_ROOT", tmp_path)
    df = spark.createDataFrame([(1, 10), (2, 20)], "id long, sig long")
    target = sig_artifacts.materialize_signatures(
        df, "test_skip_rewrite", (2, 7), "id", "sig")
    assert target == tmp_path / "test_skip_rewrite" / "k=2_7" / "sig.parquet"
    out = spark.read.parquet(str(target)).select("id", "sig").collect()
    st0 = os.stat(target)
    sig_artifacts.materialize_signatures(
        df, "test_skip_rewrite", (2, 7), "id", "sig")
    st1 = os.stat(target)
    assert (st0.st_mtime_ns, st0.st_ino, st0.st_size) \
        == (st1.st_mtime_ns, st1.st_ino, st1.st_size)
    out2 = spark.read.parquet(str(target)).select("id", "sig").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
