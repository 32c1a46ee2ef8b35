from __future__ import annotations

import os

import pytest

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")
REFERENCE_CORPUS = "/root/reference/files/inputs"


@pytest.fixture(scope="session")
def spark():
    from mapreducewordcount_spark.session import get_spark

    s = get_spark("mapreducewordcount_spark-tests")
    yield s


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
