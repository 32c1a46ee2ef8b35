from __future__ import annotations

import os
import tempfile

import pytest
from hypothesis import settings
from hypothesis.configuration import set_hypothesis_home_dir

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")
REFERENCE_CORPUS = "/root/reference/files/inputs"

# A test run writes nothing into the checkout: no example database,
# and hypothesis's unicode charmap cache goes to the temp dir instead
# of ``<cwd>/.hypothesis``.
settings.register_profile("engine", database=None)
settings.load_profile("engine")
set_hypothesis_home_dir(os.path.join(tempfile.gettempdir(), "hypothesis"))


@pytest.fixture(scope="session")
def spark():
    from mapreducewordcount_spark.session import get_spark

    s = get_spark("mapreducewordcount_spark-tests")
    yield s


@pytest.fixture(autouse=True)
def _clear_spark_cache():
    """Release what each test persisted, so no later test's plan reads
    a cached fragment of an earlier one. Queries leave their persisted
    intermediates to the code that runs the action."""
    yield
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.catalog.clearCache()


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory):
    """A multi-file ``*.txt`` corpus built from the TESTDATA documents
    table: four text files of unequal size, one empty ``.txt``, one
    non-``.txt`` decoy the reader must skip, and hand-written edge
    files for the tokenizer (U+001C-U+001F separators, NBSP, CRLF
    line ends, blank lines, interior punctuation, contractions)."""
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
    edges = {
        "edge_separators.txt": "file\x1csep group\x1dsep\n"
                               "record\x1esep unit\x1fsep\n",
        "edge_nbsp.txt": "no\u00a0break\u00a0space, \u00a0 O.K.\n",
        "edge_crlf.txt": "Windows line\r\nends here.\r\n\r\nDone.\r\n",
        "edge_blank_lines.txt": "\n\nfirst\n\n\n  \t \nlast\n\n",
        "edge_punct.txt": "O.K. then -- (Don't) stop; \"Don't\" won't.\n"
                          "'tis the U.S.A.'s ... end.\n",
    }
    for name, text in edges.items():
        with open(d / name, "w", encoding="utf-8", newline="") as f:
            f.write(text)
    return str(d)


def plan_reads_cache(df) -> bool:
    """Whether a plan built now from ``df``'s logical plan reads a
    persisted block (``InMemoryRelation``). ``df``'s own plan was
    matched against the cache when it was first analyzed; an alias
    gives a new query execution that looks the cache up again."""
    qe = df.alias("fresh")._jdf.queryExecution()
    return "InMemoryRelation" in qe.withCachedData().toString()
