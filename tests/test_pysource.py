"""Custom Python DataSource (sources/pysource.py): planner unit
tests (no Spark needed — listing, LPT packing, filter pushdown are
plain driver-side Python) plus end-to-end parity against the JVM
text scan on the reference corpus.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, In, StringStartsWith

from mapreducewordcount_spark.sources.pysource import (
    CorpusReader,
    lpt_pack,
    register_corpus_source,
)
from tests.conftest import SF_ORACLE


# --- planner-side units -----------------------------------------------------

def test_lpt_pack_balance_bound():
    sized = [(f"f{i}", s) for i, s in
             enumerate([900, 500, 500, 300, 200, 100, 100, 50])]
    bins = lpt_pack(sized, 3)
    loads = [sum(s for n, s in sized if n in b) for b in bins]
    total, biggest = sum(s for _, s in sized), max(s for _, s in sized)
    assert sum(loads) == total
    assert max(loads) <= total / 3 + biggest  # classic LPT guarantee


def test_lpt_pack_deterministic():
    sized = [("a", 10), ("b", 10), ("c", 10), ("d", 5)]
    assert lpt_pack(sized, 2) == lpt_pack(list(reversed(sized)), 2)


def test_reader_lists_glob_only(tmp_path):
    (tmp_path / "x.txt").write_text("hello\n")
    (tmp_path / "y.txt").write_text("world\n")
    (tmp_path / "skip.dat").write_text("nope\n")
    r = CorpusReader({"path": str(tmp_path)})
    assert [b for _, b in r.files] == ["x.txt", "y.txt"]


def test_push_filters_prunes_files_and_returns_rest(tmp_path):
    for n in ("a.txt", "b.txt", "c.txt"):
        (tmp_path / n).write_text("data\n")
    r = CorpusReader({"path": str(tmp_path)})
    line_pred = GreaterThan(("line",), "m")
    rest = list(r.pushFilters([EqualTo(("file",), "b.txt"), line_pred]))
    assert rest == [line_pred]  # line predicate goes back to Spark
    assert [b for _, b in r.files] == ["b.txt"]
    parts = r.partitions()
    assert len(parts) == 1 and len(parts[0].files) == 1


def test_push_filters_in_and_prefix(tmp_path):
    for n in ("a.txt", "ab.txt", "b.txt"):
        (tmp_path / n).write_text("data\n")
    r = CorpusReader({"path": str(tmp_path)})
    list(r.pushFilters([StringStartsWith(("file",), "a")]))
    assert [b for _, b in r.files] == ["a.txt", "ab.txt"]
    list(r.pushFilters([In(("file",), ("ab.txt", "zz.txt"))]))
    assert [b for _, b in r.files] == ["ab.txt"]


def test_reader_requires_path():
    with pytest.raises(ValueError):
        CorpusReader({})
    with pytest.raises(ValueError):
        CorpusReader({"path": "/tmp", "splits": "0"})


def test_empty_bins_not_emitted(tmp_path):
    (tmp_path / "only.txt").write_text("one file\n")
    r = CorpusReader({"path": str(tmp_path), "splits": "8"})
    assert len(r.partitions()) == 1


# --- end-to-end against the JVM scan ----------------------------------------

@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    """A multi-file ``*.txt`` corpus built from the TESTDATA documents
    table: four text files of unequal size, one empty ``.txt`` and one
    non-``.txt`` decoy the reader must skip."""
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("corpus")
    texts = pq.read_table(f"{SF_ORACLE}/documents.parquet",
                          columns=["text"])["text"].to_pylist()
    cuts = [int(len(texts) * f) for f in (0, 0.4, 0.7, 0.9, 1)]
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        (d / f"part{i}.txt").write_text("\n".join(texts[lo:hi]) + "\n",
                                        encoding="utf-8")
    (d / "empty.txt").write_text("")
    (d / "notes.md").write_text("decoy: not a .txt file\n")
    return str(d)


@pytest.fixture()
def corpus_df(spark, corpus_dir):
    # runtime-settable; the shared test session may predate the
    # get_spark default
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_corpus_source(spark)
    return (spark.read.format("corpus")
            .option("path", corpus_dir).option("splits", "4").load())


def test_corpus_source_matches_jvm_text_scan(spark, corpus_df, corpus_dir):
    jvm = (spark.read.option("pathGlobFilter", "*.txt").text(corpus_dir)
           .filter(F.col("value") != ""))
    ours = corpus_df.filter(F.col("line") != "")
    assert ours.count() == jvm.count()
    # identical multiset of lines, not just cardinality
    got = (ours.groupBy("line").agg(F.count(F.lit(1)).alias("n")).toPandas()
           .set_index("line")["n"].to_dict())
    want = (jvm.groupBy(F.col("value").alias("line"))
            .agg(F.count(F.lit(1)).alias("n")).toPandas()
            .set_index("line")["n"].to_dict())
    assert got == want


def test_corpus_source_file_filter_pushdown(spark, corpus_df):
    files = sorted(r.file for r in corpus_df.select("file").distinct().collect())
    assert len(files) >= 2
    one = (corpus_df.filter(F.col("file") == files[0])
           .select("file").distinct().collect())
    assert [r.file for r in one] == [files[0]]


def test_corpus_source_split_count(spark, corpus_df):
    # 4 requested splits over ≥4 files → exactly 4 scheduled tasks
    n_files = corpus_df.select("file").distinct().count()
    parts = corpus_df.rdd.getNumPartitions()
    assert parts == min(4, n_files)
