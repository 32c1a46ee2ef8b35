"""MERGE/upsert + SCD2 + streaming dedup."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreducewordcount_spark.operators.merge import merge_upsert
from mapreducewordcount_spark.operators.scd2 import scd2_history
from mapreducewordcount_spark.streaming.jobs import stream_deduped_docs

TS = dt.datetime


def test_merge_upsert_update_and_insert(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, v double")
    updates = spark.createDataFrame(
        [(2, "b2", 21.0, 1, "U"), (4, "d", 40.0, 1, "U")],
        "id long, name string, v double, _version int, _op string")
    got = {r.id: (r.name, r.v) for r in
           merge_upsert(target, updates, ["id"]).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 21.0),
                   3: ("c", 30.0), 4: ("d", 40.0)}


def test_merge_upsert_composite_key(spark):
    target = spark.createDataFrame([(1, "x", 1.0), (1, "y", 2.0)],
                                   "id long, sub string, v double")
    updates = spark.createDataFrame(
        [(1, "y", 9.0, 1, "U")],
        "id long, sub string, v double, _version int, _op string")
    got = {(r.id, r.sub): r.v for r in
           merge_upsert(target, updates, ["id", "sub"]).collect()}
    assert got == {(1, "x"): 1.0, (1, "y"): 9.0}


def test_merge_upsert_multi_row_batch_last_writer_wins(spark):
    """A batch carrying several rows for one key collapses to the
    row with the latest version."""
    target = spark.createDataFrame([(1, "a", TS(2024, 1, 1))],
                                   "id long, name string, ts timestamp")
    updates = spark.createDataFrame(
        [(1, "mid", TS(2024, 3, 1), 1, "U"),
         (1, "new", TS(2024, 6, 1), 2, "U"),
         (2, "ins", TS(2024, 2, 1), 1, "U")],
        "id long, name string, ts timestamp, _version int, _op string")
    rows = merge_upsert(target, updates, ["id"]).collect()
    assert len(rows) == 2
    got = {r.id: r.name for r in rows}
    assert got == {1: "new", 2: "ins"}


def test_scd2_closes_and_opens_versions(spark):
    snapshot = spark.createDataFrame([(1, "v1"), (2, "w1")],
                                     "id long, val string")
    changes = spark.createDataFrame(
        [(1, "v2", 6, "U")], "id long, val string, _version int, _op string")
    rows = scd2_history(snapshot, changes, ["id"]).collect()
    by_version = {(r.id, r.val): (r.valid_from, r.valid_to) for r in rows}
    assert by_version[(1, "v1")] == (0, 6)     # closed
    assert by_version[(1, "v2")] == (6, None)  # opened
    assert by_version[(2, "w1")] == (0, None)  # untouched


def test_scd2_multiple_updates_one_batch_single_open_version(spark):
    """Two updates for one key in a batch: the earlier one must close
    at the later one's version — exactly one open version remains."""
    snapshot = spark.createDataFrame([(1, "v1")], "id long, val string")
    changes = spark.createDataFrame(
        [(1, "v2", 3, "U"), (1, "v3", 6, "U")],
        "id long, val string, _version int, _op string")
    rows = scd2_history(snapshot, changes, ["id"]).collect()
    by_version = {(r.id, r.val): (r.valid_from, r.valid_to) for r in rows}
    assert by_version[(1, "v1")] == (0, 3)
    assert by_version[(1, "v2")] == (3, 6)
    assert by_version[(1, "v3")] == (6, None)
    open_rows = [k for k, (_, vt) in by_version.items() if vt is None]
    assert open_rows == [(1, "v3")]


def test_stream_dedup_first_seen_wins(spark, tmp_path):
    import json

    src = tmp_path / "docs"
    src.mkdir()
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType())])

    rows = [
        {"doc_id": 0, "text": "alpha beta", "ts": "2024-01-01T00:00:00"},
        {"doc_id": 1, "text": "ALPHA   beta!", "ts": "2024-01-01T00:01:00"},  # dup after normalize
        {"doc_id": 2, "text": "gamma delta", "ts": "2024-01-01T00:02:00"},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))

    stream = spark.readStream.schema(schema).json(str(src))
    q = (stream_deduped_docs(stream)
         .writeStream.outputMode("append").format("memory")
         .queryName("deduped").start())
    try:
        q.processAllAvailable()
        kept = sorted(r.doc_id for r in spark.sql("SELECT * FROM deduped").collect())
        assert len(kept) == 2 and 2 in kept
        assert 0 in kept or 1 in kept  # one representative of the dup group
        assert not (0 in kept and 1 in kept)
    finally:
        q.stop()


def test_stream_simhash_dedup_collapses_signature_twins(spark, tmp_path):
    """Content near-dup filter: case/whitespace-noise twins share a
    SimHash signature and collapse to one admitted copy ACROSS
    micro-batches (state persists in the checkpoint); a genuinely
    different document passes."""
    import json

    from mapreducewordcount_spark.streaming.jobs import stream_simhash_dedup

    src = tmp_path / "docs"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType())])

    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in [
        {"doc_id": 0, "text": "alpha beta gamma delta",
         "ts": "2024-01-01T00:00:00"},
        {"doc_id": 1, "text": "wholly other content here",
         "ts": "2024-01-01T00:01:00"},
    ]))

    stream = spark.readStream.schema(schema).json(str(src))
    q = (stream_simhash_dedup(stream)
         .writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .format("memory").queryName("simdeduped").start())
    try:
        q.processAllAvailable()
        # batch 2: a case/space twin of doc 0 (same word multiset →
        # same signature) and a fresh doc
        (src / "b2.json").write_text("\n".join(json.dumps(r) for r in [
            {"doc_id": 2, "text": "ALPHA  beta   GAMMA delta",
             "ts": "2024-01-01T00:02:00"},
            {"doc_id": 3, "text": "yet more novel words now",
             "ts": "2024-01-01T00:03:00"},
        ]))
        q.processAllAvailable()
        kept = sorted(r.doc_id for r in
                      spark.sql("SELECT * FROM simdeduped").collect())
        assert kept == [0, 1, 3], kept  # twin 2 collapsed across batches
    finally:
        q.stop()


@pytest.mark.parametrize("seed_format", ["versioned", "manifest"])
def test_stream_cdc_view_refresh_matches_batch(spark, tmp_path,
                                               seed_format):
    """Streaming IVM twin (VERDICT r7 next#6): a CDC feed refreshes
    the materialized aggregate across micro-batches through the batch
    delta rules; the final view must equal a from-scratch recompute
    over seed+all-changes, and each intermediate version must equal
    the recompute at that point — cross-batch state lives in the
    versioned snapshot, not the stream. Runs on BOTH state formats:
    plain versioned parquet and the manifest copy-on-write seam
    (VERDICT r9 next#6), which must be behaviorally identical."""
    import json

    from mapreducewordcount_spark.streaming import state as store
    from mapreducewordcount_spark.streaming.jobs import (
        start_cdc_agg_refresh,
    )

    snap_dir = str(tmp_path / "snap")
    view_dir = str(tmp_path / "view")
    seed = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 200), (3, "b", 300), (4, "b", 400),
         (5, "c", 500)],
        "k long, grp string, v long")
    if seed_format == "manifest":
        store.seed_manifest_state(seed, snap_dir, ["k"], n_buckets=4)
    else:
        seed.write.parquet(f"{snap_dir}/v0")

    src = tmp_path / "cdc"
    src.mkdir()
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField("_version", T.IntegerType()),
        T.StructField("_op", T.StringType())])
    b1 = [{"k": 1, "grp": "a", "v": 150, "_version": 2, "_op": "U"},
          {"k": 3, "grp": "b", "v": 0, "_version": 3, "_op": "D"}]
    b2 = [{"k": 9, "grp": "c", "v": 900, "_version": 4, "_op": "U"},
          {"k": 5, "grp": "c", "v": 0, "_version": 5, "_op": "D"},
          {"k": 2, "grp": "b", "v": 222, "_version": 6, "_op": "U"}]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))

    stream = spark.readStream.schema(schema).json(str(src))
    q = start_cdc_agg_refresh(
        stream, snapshot_dir=snap_dir, view_dir=view_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        keys=["k"], group_col="grp", value_col="v")
    try:
        q.processAllAvailable()
        (src / "b2.json").write_text(
            "\n".join(json.dumps(r) for r in b2))
        q.processAllAvailable()
    finally:
        q.stop()

    def _view(df):
        return {r["grp"]: (r["n_rows"], r["total"]) for r in df.collect()}

    def _recompute(*batches):
        rows = [tuple(r.values()) for b in batches for r in b]
        chg = spark.createDataFrame(
            rows, "k long, grp string, v long, _version int, _op string")
        merged = merge_upsert(seed, chg, ["k"])
        return {r["grp"]: (r["n"], r["t"]) for r in
                merged.groupBy("grp").agg(F.count(F.lit(1)).alias("n"),
                                          F.sum("v").alias("t")).collect()}

    assert store.latest_version(view_dir) == 2
    # unseeded state dir fails FAST at start() with the seed-first
    # message, not as an AnalysisException inside the stream
    # (ADVICE r8)
    with pytest.raises(ValueError, match="seed "):
        start_cdc_agg_refresh(
            stream, snapshot_dir=str(tmp_path / "never_seeded"),
            view_dir=view_dir, checkpoint_dir=str(tmp_path / "ckpt2"),
            keys=["k"], group_col="grp", value_col="v")
    # intermediate version: view after batch 1 only
    views = store.StateStore(spark, view_dir)
    assert _view(views.read(1)) == _recompute(b1)
    # final: across-batch state carried through the versioned snapshot
    assert _view(views.read()) == _recompute(b1, b2)
    # group moves/extinction audit: 'c' survives with only the insert
    assert _view(views.read())["c"] == (1, 900)
    if seed_format == "manifest":
        # the committed SNAPSHOT itself must equal the from-scratch
        # merge, read through the manifest (union of live segments)
        final = {(r.k, r.grp, r.v) for r in
                 store.read_manifest_state(spark, snap_dir).collect()}
        want = {(r.k, r.grp, r.v) for r in
                merge_upsert(seed, spark.createDataFrame(
                    [tuple(r.values()) for b in (b1, b2) for r in b],
                    "k long, grp string, v long, _version int, "
                    "_op string"), ["k"]).collect()}
        assert final == want
        # copy-on-write really happened: v2 rewrote only the buckets
        # batch 2 touched, so at least one OLDER segment is still
        # live (carried forward by path, zero bytes moved)
        man = store._load_manifest(snap_dir, 2)
        live = [p for ps in man["buckets"].values() for p in ps]
        assert any(not p.startswith("seg/v2/") for p in live), live
        assert any(p.startswith("seg/v2/") for p in live), live


@pytest.mark.parametrize("seed_format", ["versioned", "manifest"])
def test_stream_chunk_index_maintenance_matches_batch(spark, tmp_path,
                                                      seed_format):
    """Streaming chunk-index twin (round 9): micro-batches chunk,
    probe, report, and grow the versioned index; the final index must
    equal the batch chunker's distinct hash set over all documents,
    and a re-crawled duplicate must show up as index dups in ITS
    batch's report. Runs on BOTH state formats: plain versioned
    parquet and the manifest append seam (VERDICT r9 next#6)."""
    import json
    import random

    from mapreducewordcount_spark.operators.cdchunk import (
        cdc_chunk_table,
    )
    from mapreducewordcount_spark.streaming import state as store
    from mapreducewordcount_spark.streaming.jobs import (
        start_chunk_index_maintenance,
    )

    def _text(n, seed):
        rng = random.Random(seed)
        return "".join(rng.choice("abcdefgh ") for _ in range(n))

    text_a, text_b = _text(6000, 1), _text(4000, 2)
    idx_dir = str(tmp_path / "chunk_index")
    rep_dir = str(tmp_path / "chunk_reports")
    # seed: the empty index
    empty = spark.createDataFrame([], "chunk_md5 string, length int")
    if seed_format == "manifest":
        store.seed_manifest_state(empty, idx_dir, ["chunk_md5"],
                                  n_buckets=4)
    else:
        empty.write.parquet(f"{idx_dir}/v0")

    src = tmp_path / "docs"
    src.mkdir()
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("text", T.StringType())])
    (src / "b1.json").write_text(json.dumps(
        {"doc_id": 1, "source": "crawl1", "text": text_a}))

    stream = spark.readStream.schema(schema).json(str(src))
    q = start_chunk_index_maintenance(
        stream, index_dir=idx_dir, report_dir=rep_dir,
        checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        (src / "b2.json").write_text("\n".join([
            json.dumps({"doc_id": 2, "source": "recrawl",
                        "text": text_a}),      # exact re-crawl
            json.dumps({"doc_id": 3, "source": "crawl2",
                        "text": text_b})]))    # new content
        q.processAllAvailable()
    finally:
        q.stop()

    if seed_format == "manifest":
        assert store.latest_version(idx_dir) == 2
        final_df = store.read_manifest_state(spark, idx_dir)
        # append-only commits: the final manifest unions segments
        # from BOTH batch versions, nothing rewritten
        man = store._load_manifest(idx_dir, 2)
        live = [p for ps in man["buckets"].values() for p in ps]
        assert any(p.startswith("seg/v1/") for p in live), live
        assert any(p.startswith("seg/v2/") for p in live), live
    else:
        assert store.latest_version(idx_dir) == 2
        final_df = store.StateStore(spark, idx_dir).read()
    all_docs = spark.createDataFrame(
        [(1, text_a), (2, text_a), (3, text_b)],
        "doc_id long, text string")
    expected = {(r.chunk_md5, r.length) for r in
                cdc_chunk_table(all_docs)
                .select("chunk_md5", "length").distinct().collect()}
    final = {(r.chunk_md5, r.length) for r in final_df.collect()}
    assert final == expected

    rep2 = {r.source: r for r in
            store.StateStore(spark, rep_dir).read(2).collect()}
    # the exact re-crawl is ALL index dups; the new doc all new
    assert rep2["recrawl"].n_dup_index == rep2["recrawl"].n_chunks
    assert rep2["recrawl"].dup_index_chars == len(text_a)
    assert rep2["crawl2"].n_dup_index == 0
    # unseeded index dir fails fast before start()
    with pytest.raises(ValueError, match="seed "):
        start_chunk_index_maintenance(
            stream, index_dir=str(tmp_path / "nope"),
            report_dir=rep_dir, checkpoint_dir=str(tmp_path / "c2"))


def test_stream_state_dir_removed_mid_stream_fails_with_seed_error(
        spark, tmp_path):
    """A state dir removed MID-stream (after start()'s seed check
    passed) must surface the same seed-first ValueError from inside
    refresh(), not an opaque TypeError from min(batch_id, None)
    (ADVICE r9)."""
    import json
    import shutil

    import pytest

    from mapreducewordcount_spark.streaming.jobs import (
        start_chunk_index_maintenance,
    )

    idx_dir = str(tmp_path / "chunk_index")
    rep_dir = str(tmp_path / "chunk_reports")
    spark.createDataFrame([], "chunk_md5 string, length int") \
        .write.parquet(f"{idx_dir}/v0")

    src = tmp_path / "docs"
    src.mkdir()
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("text", T.StringType())])
    (src / "b1.json").write_text(json.dumps(
        {"doc_id": 1, "source": "crawl1", "text": "abcd efgh " * 50}))

    stream = spark.readStream.schema(schema).json(str(src))
    q = start_chunk_index_maintenance(
        stream, index_dir=idx_dir, report_dir=rep_dir,
        checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        shutil.rmtree(idx_dir)  # state loss between batches
        (src / "b2.json").write_text(json.dumps(
            {"doc_id": 2, "source": "crawl2", "text": "zz yy xx " * 40}))
        with pytest.raises(Exception, match="no committed state"):
            q.processAllAvailable()
            raise AssertionError("stream survived state loss")
    finally:
        q.stop()


def test_manifest_gc_removes_exactly_unreferenced(spark, tmp_path):
    """VERDICT r10 next#3: the GC walker retains the last K
    manifests, deletes dropped manifest files first, and removes
    exactly the segment dirs no retained manifest references —
    superseded copy-on-write segments and never-committed zombie
    segments — while carried-forward segments survive."""
    import os

    from pyspark.sql import functions as F

    from mapreducewordcount_spark.streaming import state as store

    d = str(tmp_path / "state")
    seed = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "k long, val string")
    store.seed_manifest_state(seed, d, ["k"], n_buckets=4)
    man0 = store._load_manifest(d, 0)

    # COW commit: replace bucket 0's content (k=1000 upserted there)
    new_rows = spark.createDataFrame([(1000, "new")],
                                     "k long, val string")
    target = store.changed_buckets_of(new_rows, ["k"], 4)
    old_b = store.read_manifest_state(spark, d, buckets=target) \
        .withColumn("__b", F.pmod(F.xxhash64("k"), F.lit(4))) \
        .filter(F.col("__b").isin([int(b) for b in target])).drop("__b")
    store.commit_cow(old_b.unionByName(new_rows), target, d, 0, 1)
    superseded = {f"seg/v0/b{b}" for b in target
                  if man0["buckets"][str(b)]}
    carried = {p for b, ps in man0["buckets"].items()
               for p in ps if int(b) not in target}

    # zombie in a SUPERSEDED version: unreferenced, collectible
    os.makedirs(f"{d}/seg/v0/zombie")
    open(f"{d}/seg/v0/zombie/part-junk.parquet", "w").write("x")
    # segment for a FUTURE version: indistinguishable from an
    # in-flight commit (segments land before their manifest), so GC
    # must leave it alone (ADVICE r11)
    os.makedirs(f"{d}/seg/v9/inflight")
    open(f"{d}/seg/v9/inflight/part-data.parquet", "w").write("x")

    before = {tuple(sorted(r.asDict().items()))
              for r in store.read_manifest_state(spark, d).collect()}
    report = store.gc_manifest_state(d, keep_last=1)
    assert report["kept_versions"] == [1]
    assert report["removed_manifests"] == ["manifest-v0.json"]
    assert set(report["removed_segments"]) == superseded | {
        "seg/v0/zombie"}
    assert os.path.isdir(f"{d}/seg/v9/inflight")  # in-flight survives
    # carried-forward v0 segments survive and the state reads intact
    for rel in carried:
        assert os.path.isdir(f"{d}/{rel}")
    after = {tuple(sorted(r.asDict().items()))
             for r in store.read_manifest_state(spark, d).collect()}
    assert after == before
    # dropped versions fail loudly, never return partial state
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        store.read_manifest_state(spark, d, version=0)
    # idempotent
    again = store.gc_manifest_state(d, keep_last=1)
    assert again["removed_manifests"] == []
    assert again["removed_segments"] == []
    # once a LATER commit supersedes the stranded version, the next
    # GC collects the now-provably-zombie segment
    store.commit_cow(new_rows, target, d, 1, 10)
    report3 = store.gc_manifest_state(d, keep_last=1)
    assert "seg/v9/inflight" in report3["removed_segments"]
    assert not os.path.isdir(f"{d}/seg/v9")


def test_stream_gc_collects_superseded_segments_mid_stream(
        spark, tmp_path):
    """Retention wired INTO the maintenance loop (VERDICT r11
    next#5): with ``gc_every_n_batches`` set, the commit thread GCs
    the manifest state after every Nth batch — superseded manifests
    and the segments only they referenced are collected WHILE the
    stream runs, the retained state stays byte-identical to the
    no-GC run, and storage stops growing with stream length."""
    import json
    import os

    from mapreducewordcount_spark.streaming import state as store
    from mapreducewordcount_spark.streaming.jobs import (
        start_cdc_agg_refresh,
    )

    snap_dir = str(tmp_path / "snap")
    seed = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 200), (3, "b", 300), (4, "b", 400)],
        "k long, grp string, v long")
    store.seed_manifest_state(seed, snap_dir, ["k"], n_buckets=4)

    src = tmp_path / "cdc"
    src.mkdir()
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField("_version", T.IntegerType()),
        T.StructField("_op", T.StringType())])
    b1 = [{"k": 1, "grp": "a", "v": 150, "_version": 2, "_op": "U"}]
    b2 = [{"k": 3, "grp": "b", "v": 333, "_version": 3, "_op": "U"},
          {"k": 9, "grp": "c", "v": 900, "_version": 4, "_op": "U"}]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))

    stream = spark.readStream.schema(schema).json(str(src))
    q = start_cdc_agg_refresh(
        stream, snapshot_dir=snap_dir,
        view_dir=str(tmp_path / "view"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        keys=["k"], group_col="grp", value_col="v",
        gc_every_n_batches=1, gc_keep_last=2)
    try:
        q.processAllAvailable()
        # batch 1 committed v1; keep_last=2 (the replay-horizon
        # floor — ADVICE r12) retains v0+v1
        manifests_after_b1 = sorted(
            f for f in os.listdir(snap_dir) if f.startswith("manifest"))
        assert manifests_after_b1 == ["manifest-v0.json",
                                      "manifest-v1.json"]
        (src / "b2.json").write_text(
            "\n".join(json.dumps(r) for r in b2))
        q.processAllAvailable()
    finally:
        q.stop()

    # only the last TWO manifests survive (replay horizon); every
    # on-disk segment is referenced by a kept manifest (zero
    # zombies, zero dangling references)
    assert sorted(f for f in os.listdir(snap_dir)
                  if f.startswith("manifest")) \
        == ["manifest-v1.json", "manifest-v2.json"]
    live = set()
    for v in (1, 2):
        man = store._load_manifest(snap_dir, v)
        live |= {p for ps in man["buckets"].values() for p in ps}
    on_disk = set()
    seg_root = os.path.join(snap_dir, "seg")
    for vdir in os.listdir(seg_root):
        for tag in os.listdir(os.path.join(seg_root, vdir)):
            on_disk.add(f"seg/{vdir}/{tag}")
    assert on_disk == live
    # and the retained state equals the from-scratch recompute
    final = {(r.k, r.grp, r.v) for r in
             store.read_manifest_state(spark, snap_dir).collect()}
    chg = spark.createDataFrame(
        [tuple(r.values()) for b in (b1, b2) for r in b],
        "k long, grp string, v long, _version int, _op string")
    want = {(r.k, r.grp, r.v) for r in
            merge_upsert(seed, chg, ["k"]).collect()}
    assert final == want


def test_gc_versioned_state_keeps_last_k_existing(tmp_path):
    """Plain-format retention: holes in the version sequence (empty
    batches) count nothing — "last K" is over EXISTING versions; a
    keep_last below 1 refuses rather than deleting everything."""
    import os

    import pytest as _pytest

    from mapreducewordcount_spark.streaming.state import (
        gc_versioned_state,
    )

    d = str(tmp_path / "st")
    for v in (0, 2, 5):
        os.makedirs(f"{d}/v{v}")
        open(f"{d}/v{v}/part-0.parquet", "w").write("x")
    report = gc_versioned_state(d, keep_last=2)
    assert report == {"kept_versions": [2, 5], "removed_versions": [0]}
    assert sorted(os.listdir(d)) == ["v2", "v5"]
    # idempotent
    assert gc_versioned_state(d, keep_last=2)["removed_versions"] == []
    with _pytest.raises(ValueError, match="keep_last"):
        gc_versioned_state(d, keep_last=0)
    # unseeded dir is a no-op, not an error
    assert gc_versioned_state(str(tmp_path / "nope")) \
        == {"kept_versions": [], "removed_versions": []}


def test_stream_gc_versioned_format_drops_old_copies(spark, tmp_path):
    """The versioned-format leg of loop-wired retention: full-copy
    v<N> snapshot dirs beyond keep_last are dropped mid-stream and
    the retained state still equals the from-scratch recompute."""
    import json
    import os

    from mapreducewordcount_spark.streaming import state as store
    from mapreducewordcount_spark.streaming.jobs import (
        start_cdc_agg_refresh,
    )

    snap_dir = str(tmp_path / "snap")
    seed = spark.createDataFrame(
        [(1, "a", 100), (2, "b", 200)], "k long, grp string, v long")
    seed.write.parquet(f"{snap_dir}/v0")

    src = tmp_path / "cdc"
    src.mkdir()
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField("_version", T.IntegerType()),
        T.StructField("_op", T.StringType())])
    b1 = [{"k": 1, "grp": "a", "v": 111, "_version": 2, "_op": "U"}]
    b2 = [{"k": 3, "grp": "c", "v": 300, "_version": 3, "_op": "U"}]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))

    q = start_cdc_agg_refresh(
        spark.readStream.schema(schema).json(str(src)),
        snapshot_dir=snap_dir, view_dir=str(tmp_path / "view"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        keys=["k"], group_col="grp", value_col="v",
        gc_every_n_batches=1, gc_keep_last=2)
    try:
        q.processAllAvailable()
        # keep_last=2 (replay-horizon floor, ADVICE r12): v0 is
        # still the previous version after the v1 commit
        assert sorted(os.listdir(snap_dir)) == ["v0", "v1"]
        (src / "b2.json").write_text(
            "\n".join(json.dumps(r) for r in b2))
        q.processAllAvailable()
    finally:
        q.stop()

    assert sorted(os.listdir(snap_dir)) == ["v1", "v2"]  # v0 collected
    final = {(r.k, r.grp, r.v) for r in
             store.StateStore(spark, snap_dir).read().collect()}
    chg = spark.createDataFrame(
        [tuple(r.values()) for b in (b1, b2) for r in b],
        "k long, grp string, v long, _version int, _op string")
    want = {(r.k, r.grp, r.v) for r in
            merge_upsert(seed, chg, ["k"]).collect()}
    assert final == want


def test_stream_reservoir_matches_batch_bottom_k(spark, tmp_path):
    """Streaming reservoir twin: after two micro-batches the state
    equals the batch bottom-k over the UNION of everything seen (the
    mergeability that justified bottom-k over Algorithm R), the
    per-group n_seen is exact, state is ≤ |groups|·k rows, and
    loop-wired GC keeps only the retained versions."""
    import hashlib
    import json
    import os

    from mapreducewordcount_spark.streaming import state as store
    from mapreducewordcount_spark.streaming.jobs import (
        start_reservoir_maintenance,
    )

    k = 3
    st = str(tmp_path / "rsv")
    src = tmp_path / "docs"
    src.mkdir()
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType())])
    b1 = [{"doc_id": i, "source": "a"} for i in range(8)] \
        + [{"doc_id": 100 + i, "source": "b"} for i in range(2)]
    b2 = [{"doc_id": 8 + i, "source": "a"} for i in range(7)] \
        + [{"doc_id": 102, "source": "b"}]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))

    q = start_reservoir_maintenance(
        spark.readStream.schema(schema).json(str(src)),
        state_dir=st, checkpoint_dir=str(tmp_path / "ckpt"),
        k=k, gc_every_n_batches=1, gc_keep_last=2)
    try:
        q.processAllAvailable()
        (src / "b2.json").write_text(
            "\n".join(json.dumps(r) for r in b2))
        q.processAllAvailable()
    finally:
        q.stop()

    # GC kept the retained versions: only two exist, both within
    # the keep_last=2 replay horizon (ADVICE r12 floor)
    assert sorted(os.listdir(st)) == ["v1", "v2"]
    state = store.StateStore(spark, st).read().collect()

    def bottom_k(ids):
        return set(sorted(
            ids, key=lambda d: (hashlib.md5(
                f"rsv:{d}".encode()).hexdigest(), d))[:k])

    all_rows = b1 + b2
    for grp in ("a", "b"):
        ids = [r["doc_id"] for r in all_rows if r["source"] == grp]
        got = {r.id for r in state if r.grp == grp}
        assert got == bottom_k(ids), grp
        n = {r.n_seen_grp for r in state if r.grp == grp}
        assert n == {len(ids)}, grp
        assert len(got) == min(k, len(set(ids)))


def test_loop_gc_keep_last_floor_is_enforced(spark, tmp_path):
    """ADVICE r12 (medium): loop-wired GC with keep_last=1 cannot
    cover the checkpoint replay horizon — a crash between the state
    write and the checkpoint commit leaves the redelivered batch no
    version ≤ its id, which the reservoir's no-seed contract would
    silently interpret as an EMPTY reservoir. All three streaming
    entry points refuse at start(); keep_last=1 stays legal for
    offline gc_versioned_state use."""
    import pytest as _pytest

    from mapreducewordcount_spark.streaming.jobs import (
        start_cdc_agg_refresh,
        start_chunk_index_maintenance,
        start_reservoir_maintenance,
    )

    doc_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("text", T.StringType())])
    (tmp_path / "nosrc").mkdir()
    (tmp_path / "nosrc2").mkdir()
    docs = spark.readStream.schema(doc_schema).json(
        str(tmp_path / "nosrc"))
    with _pytest.raises(ValueError, match="gc_keep_last"):
        start_reservoir_maintenance(
            docs, state_dir=str(tmp_path / "st"),
            checkpoint_dir=str(tmp_path / "ck"),
            gc_every_n_batches=1, gc_keep_last=1)
    with _pytest.raises(ValueError, match="gc_keep_last"):
        start_chunk_index_maintenance(
            docs, index_dir=str(tmp_path / "idx"),
            report_dir=str(tmp_path / "rep"),
            checkpoint_dir=str(tmp_path / "ck2"),
            gc_every_n_batches=2, gc_keep_last=1)
    cdc_schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField("_version", T.IntegerType()),
        T.StructField("_op", T.StringType())])
    changes = spark.readStream.schema(cdc_schema).json(
        str(tmp_path / "nosrc2"))
    with _pytest.raises(ValueError, match="gc_keep_last"):
        start_cdc_agg_refresh(
            changes, snapshot_dir=str(tmp_path / "snap"),
            view_dir=str(tmp_path / "view"),
            checkpoint_dir=str(tmp_path / "ck3"),
            keys=["k"], group_col="grp", value_col="v",
            gc_every_n_batches=1, gc_keep_last=1)
    # no GC wired -> keep_last value is irrelevant, no raise at the
    # validation layer (the unseeded-dir error fires instead)
    with _pytest.raises(ValueError, match="no committed state"):
        start_cdc_agg_refresh(
            changes, snapshot_dir=str(tmp_path / "snap"),
            view_dir=str(tmp_path / "view"),
            checkpoint_dir=str(tmp_path / "ck4"),
            keys=["k"], group_col="grp", value_col="v",
            gc_keep_last=1)


def test_state_dir_seeded_in_both_formats_raises_at_start(spark, tmp_path):
    """The seed picks a state dir's format; a dir holding both a
    ``v0/`` copy and a ``manifest-v0.json`` has no single format, so
    start() refuses and names both layouts."""
    from mapreducewordcount_spark.streaming import state as store
    from mapreducewordcount_spark.streaming.jobs import (
        start_chunk_index_maintenance,
    )

    idx_dir = str(tmp_path / "chunk_index")
    empty = spark.createDataFrame([], "chunk_md5 string, length int")
    empty.write.parquet(f"{idx_dir}/v0")
    store.seed_manifest_state(empty, idx_dir, ["chunk_md5"], n_buckets=4)
    (tmp_path / "docs").mkdir()
    docs = spark.readStream.schema(
        "doc_id long, source string, text string").json(
        str(tmp_path / "docs"))
    with pytest.raises(ValueError,
                       match=r"both v<N>/ .* and manifest-v<N>\.json"):
        start_chunk_index_maintenance(
            docs, index_dir=idx_dir, report_dir=str(tmp_path / "rep"),
            checkpoint_dir=str(tmp_path / "ckpt"))


@pytest.mark.parametrize("seed_format", ["versioned", "manifest"])
def test_stream_ann_index_maintenance_matches_scratch(spark, tmp_path,
                                                      seed_format):
    """Streaming ANN append loop (round 13): seed the index with the
    offline build on the base corpus, stream the remaining vectors in
    two micro-batches (the second REDELIVERS one already-indexed id),
    and the final committed codes must equal a from-scratch encode of
    the full corpus against the same frozen artifacts — the streaming
    form of the batch composed-index pin. Reports carry per-list
    n_new + the shared integer residual norms per batch. Both state
    formats."""
    import json

    from mapreducewordcount_spark.operators import pq
    from mapreducewordcount_spark.operators import similarity as sim
    from mapreducewordcount_spark.operators.similarity import ivf_assign
    from mapreducewordcount_spark.sources.tables import load_table
    from mapreducewordcount_spark.streaming import state as store
    from mapreducewordcount_spark.streaming.jobs import (
        start_ann_index_maintenance,
    )
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    assigned_base, cent = sim.ivf_build(base, n_lists=16,
                                        kmeans_iters=2)
    codes_base, books = pq.ivfpq_build(assigned_base, cent)
    seed = codes_base.join(
        assigned_base.select("neighbor_id", "list_id"), "neighbor_id") \
        .select("neighbor_id", "list_id", "codes")

    idx_dir = str(tmp_path / "ann_index")
    rep_dir = str(tmp_path / "ann_reports")
    if seed_format == "manifest":
        store.seed_manifest_state(seed, idx_dir, ["neighbor_id"],
                                  n_buckets=4)
    else:
        seed.write.parquet(f"{idx_dir}/v0")

    new_rows = (emb.filter(F.col("vec_id") % 5 == 4)
                .select("vec_id", "embedding").collect())
    b1 = [r for r in new_rows if r.vec_id % 10 == 4]
    b2 = [r for r in new_rows if r.vec_id % 10 == 9]
    assert b1 and b2

    def dump(rows):
        return "\n".join(json.dumps(
            {"vec_id": r.vec_id,
             "embedding": [float(x) for x in r.embedding]})
            for r in rows)

    src = tmp_path / "embs"
    src.mkdir()
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType()))])
    (src / "b1.json").write_text(dump(b1))

    q = start_ann_index_maintenance(
        spark.readStream.schema(schema).json(str(src)),
        index_dir=idx_dir, report_dir=rep_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        centroids=cent, books=books)
    try:
        q.processAllAvailable()
        # batch 2: the rest, plus a REDELIVERY of a b1 vector — the
        # anti-join must keep the index a set
        (src / "b2.json").write_text(dump(b2 + b1[:1]))
        q.processAllAvailable()
    finally:
        q.stop()

    final = (store.read_manifest_state(spark, idx_dir)
             if seed_format == "manifest"
             else store.StateStore(spark, idx_dir).read())
    got = {(r.neighbor_id, r.list_id, tuple(r.codes))
           for r in final.collect()}
    scratch_assigned = ivf_assign(emb, cent)
    scratch = pq.pq_encode(
        pq.ivfpq_residuals(scratch_assigned, cent), books,
        id_col="neighbor_id", vec_col="res") \
        .join(scratch_assigned.select("neighbor_id", "list_id"),
              "neighbor_id")
    want = {(r.neighbor_id, r.list_id, tuple(r.codes))
            for r in scratch.collect()}
    assert got == want

    # reports: v1 covers b1, v2 covers ONLY b2's genuinely-new rows
    r1 = spark.read.parquet(f"{rep_dir}/v1")
    r2 = spark.read.parquet(f"{rep_dir}/v2")
    assert r1.agg(F.sum("n_new")).first()[0] == len(b1)
    assert r2.agg(F.sum("n_new")).first()[0] == len(b2)
    for rep in (r1, r2):
        for row in rep.collect():
            assert row.n_new > 0 and row.sum_res2_u > 0
            assert row.mean_res2_new > 0


def test_manifest_compaction_resets_segment_growth(spark, tmp_path):
    """Round-13 compaction: after N append commits every touched
    bucket lists N+1 shared segments; full compaction rewrites the
    LATEST manifest in place to one segment per non-empty bucket
    with IDENTICAL content (whole-state read, no duplicates), a
    subsequent append commits against the compacted manifest, and GC
    then collects the superseded pre-compaction segments."""
    import os

    from mapreducewordcount_spark.streaming import state as store

    st = str(tmp_path / "mstate")
    seed = spark.createDataFrame(
        [(i, f"s{i}") for i in range(8)], "k long, v string")
    store.seed_manifest_state(seed, st, ["k"], n_buckets=4)
    rows = {(i, f"s{i}") for i in range(8)}
    for batch in range(3):
        new = spark.createDataFrame(
            [(100 + batch * 10 + j, f"b{batch}_{j}") for j in range(6)],
            "k long, v string")
        store.commit_append(new, st, batch, batch + 1)
        rows |= {(100 + batch * 10 + j, f"b{batch}_{j}")
                 for j in range(6)}
    man = store._load_manifest(st, 3)
    assert max(len(ps) for ps in man["buckets"].values()) >= 3

    stats = store.compact_manifest_state(spark, st)
    assert stats["version"] == 3
    assert stats["segments_after"] < stats["segments_before"]
    man2 = store._load_manifest(st, 3)
    assert all(len(ps) <= 1 for ps in man2["buckets"].values())
    got = [(r.k, r.v) for r in store.read_manifest_state(spark, st).collect()]
    assert len(got) == len(rows)          # no duplicated rows
    assert set(got) == rows               # identical content

    # the loop continues: an append against the compacted manifest
    new = spark.createDataFrame([(999, "post")], "k long, v string")
    store.commit_append(new, st, 3, 4)
    rows.add((999, "post"))
    assert {(r.k, r.v) for r in
            store.read_manifest_state(spark, st).collect()} == rows

    # GC with keep_last=2 retains v3+v4; pre-compaction segments are
    # no longer referenced by any retained manifest -> collected
    out = store.gc_manifest_state(st, keep_last=2)
    assert any("append" in s for s in out["removed_segments"])
    assert {(r.k, r.v) for r in
            store.read_manifest_state(spark, st).collect()} == rows
    # compacted segments survived on disk
    seg_root = os.path.join(st, "seg")
    live = [f"seg/{v}/{t}" for v in os.listdir(seg_root)
            for t in os.listdir(os.path.join(seg_root, v))]
    assert any("/c" in p for p in live)
