"""Config loader + CLI parity (SURVEY.md C10 / entry point A analog).

The CLI test runs in-process (``cli.main``) against a small corpus
and checks the reference's output contract: flat ``out-<b>`` files,
one per bucket including EMPTY buckets (the reference KeyErrors on
those, ``src/worker.py:126`` — recorded quirk we must not share).
"""

from __future__ import annotations

import os
import textwrap

import pytest

from mapreducewordcount_spark.cli import main
from mapreducewordcount_spark.config import load_config


def test_load_reference_schema_config(tmp_path):
    cfg_file = tmp_path / "config.yaml"
    cfg_file.write_text(textwrap.dedent("""\
        driver:
          host: "localhost"
          port: 5001
        mapreduce:
          num_map_tasks: 6
          num_reduce_tasks: 4
        directories:
          input: "../files/inputs"
          intermediate: "../files/intermediate"
          output: "../files/out"
        task_settings:
          retry_attempts: 3
          retry_delay: 5
    """))
    cfg = load_config(str(cfg_file))
    assert cfg.n == 6 and cfg.m == 4
    # relative dirs anchor on the config file's directory
    assert cfg.input_dir == os.path.normpath(str(tmp_path / "../files/inputs"))
    assert cfg.tokenizer_mode == "native"


def test_cli_run_produces_reference_layout(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_text("apple banana apple\n")
    (src / "skip.pdf").write_text("nope\n")
    out = tmp_path / "out"

    rc = main(["run", "--input", str(src), "--output", str(out), "-m", "7"])
    assert rc == 0

    files = sorted(f for f in os.listdir(out) if f.startswith("out-"))
    assert files == [f"out-{b}" for b in range(7)]  # all M files exist
    content = {}
    for f in files:
        lines = (out / f).read_text().splitlines()
        assert lines == sorted(lines)
        for ln in lines:
            w, c = ln.rsplit(" ", 1)
            content[w] = int(c)
    assert content == {"apple": 2, "banana": 1}
    # apple/a -> 97%7=6; banana/b -> 98%7=0; other buckets empty but present
    assert (out / "out-6").read_text() == "apple 2\n"
    assert (out / "out-0").read_text() == "banana 1\n"
    assert (out / "out-1").read_text() == ""


def test_cli_reference_corpus_byte_parity(spark, tmp_path, corpus_dir):
    """BASELINE.md gate row 4 as a committed test: full CLI run over
    a multi-file corpus (config-schema N=6 / M=4, parity
    tokenizer) and the merged ``out-*`` bytes equal the single-process
    Counter-oracle rendering byte-for-byte — the engine's complete
    output contract (tokenization, bucketing, per-bucket code-point
    sort, '{word} {count}' lines, flat file names) in one assert.
    """
    import string
    import textwrap
    from collections import Counter

    from mapreducewordcount_spark.functions.tokenize import word_tokenize_port

    out = tmp_path / "out"
    cfg = tmp_path / "config.yaml"
    cfg.write_text(textwrap.dedent(f"""\
        mapreduce:
          num_map_tasks: 6
          num_reduce_tasks: 4
        directories:
          input: "{corpus_dir}"
          output: "{out}"
        """))
    rc = main(["run", "--config", str(cfg), "--mode", "parity"])
    assert rc == 0

    counts: Counter = Counter()
    for name in sorted(os.listdir(corpus_dir)):
        if name.endswith(".txt"):
            with open(os.path.join(corpus_dir, name), encoding="utf-8") as f:
                for line in f:
                    for tok in word_tokenize_port(line):
                        w = tok.strip(string.punctuation).lower()
                        if w:
                            counts[w] += 1
    expected = b""
    for b in range(4):
        bucket_words = sorted(w for w in counts if ord(w[0]) % 4 == b)
        expected += "".join(f"{w} {counts[w]}\n" for w in bucket_words) \
            .encode("utf-8")
    got = b"".join((out / f"out-{b}").read_bytes() for b in range(4))
    assert got == expected


def test_cli_requires_input_or_config(capsys):
    assert main(["run", "--input", "/tmp/x"]) == 2


def test_cli_stream_once(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_text("stream me stream\n")
    out = tmp_path / "out"
    rc = main(["stream", "--input", str(src), "--output", str(out),
               "-m", "4", "--once"])
    assert rc == 0
    merged = {}
    for b in range(4):
        for ln in (out / f"out-{b}").read_text().splitlines():
            w, c = ln.rsplit(" ", 1)
            merged[w] = int(c)
    assert merged == {"stream": 2, "me": 1}


@pytest.mark.parametrize("cmd, flag, value", [
    ("run", "-m", "0"),          # a bare `or 4` turned this into 4 buckets
    ("run", "-m", "-2"),         # reached repartition(-2) in Spark
    ("stream", "-m", "0"),
    ("run", "--workers", "0"),   # silently ignored
], ids=["run-m0", "run-m-2", "stream-m0", "run-workers0"])
def test_cli_rejects_counts_below_one(tmp_path, capsys, cmd, flag, value):
    (tmp_path / "in").mkdir()
    with pytest.raises(SystemExit) as exc:
        main([cmd, "--input", str(tmp_path / "in"),
              "--output", str(tmp_path / "out"), flag, value])
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert f"argument {flag}" in err and "at least 1" in err
    assert not (tmp_path / "out").exists()


def test_config_rejects_zero_reduce_tasks(tmp_path):
    cfg_file = tmp_path / "config.yaml"
    cfg_file.write_text(textwrap.dedent("""\
        mapreduce:
          num_map_tasks: 6
          num_reduce_tasks: 0
    """))
    with pytest.raises(ValueError, match="num_reduce_tasks"):
        load_config(str(cfg_file))
