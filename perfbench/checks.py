"""Inputs the benchmark generates and the checks on the engine's outputs.

- ``make_corpus``: the seeded word-count corpus, with the exact count of
  every word the generator drew;
- ``check_wordcount``: ``out-<b>`` files against those counts, their
  code-point order and the ``ord(w[0]) % m`` bucket rule;
- ``Oracle``: a registry query's result against its ``oracle_sql`` on
  DuckDB over the same parquet tables;
- ``tree_digest`` / ``changed_files``: the artifact-tree guard.
"""

from __future__ import annotations

import hashlib
import math
import os
import tempfile

import numpy as np

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()

# --------------------------------------------------------------------------
# word-count corpus
# --------------------------------------------------------------------------

VOCAB_SIZE = 20_000
ZIPF_S = 1.1
#: ASCII punctuation glued to word ends; the tokenizer strips it
LEADING = ("", "", "", "", "(", '"', "'", "[", "--")
TRAILING = ("", "", "", ",", ".", ";", ":", "!", "?", ")", '"', "'",
            "...", "]")
#: tokens that are all punctuation and must vanish
PUNCT_ONLY = ("--", "...", "-", "!?")
#: share of the tokens in each ``book-<i>.txt``: skewed, but the same for
#: every seed, so seeds change the text and not the scan's task shape
FILE_SHARES = (0.28, 0.20, 0.15, 0.12, 0.10, 0.08, 0.05, 0.02)


def vocabulary() -> list[str]:
    """A fixed vocabulary (the same for every seed): lowercase ASCII
    words of 1-4 syllables, some with an interior apostrophe, hyphen or
    digit, all starting and ending with a letter or digit."""
    rng = np.random.default_rng(20240601)
    onsets = "b c d f g h j k l m n p r s t v w y z br ch cl dr fl gr " \
             "pl sh st th tr".split() + ["", "", ""]
    vowels = "a e i o u a e i o ai ea ou".split()
    codas = ["", "", "", "n", "r", "s", "t", "l", "ck", "nd", "st"]
    words: set[str] = set()
    out: list[str] = []
    while len(out) < VOCAB_SIZE:
        n = int(rng.integers(1, 5))
        w = "".join(onsets[rng.integers(len(onsets))]
                    + vowels[rng.integers(len(vowels))]
                    + codas[rng.integers(len(codas))] for _ in range(n))
        r = rng.random()
        if r < 0.03 and len(w) > 2:
            w = w[:-1] + "'" + w[-1]
        elif r < 0.05 and len(w) > 3:
            w = w[:2] + "-" + w[2:]
        elif r < 0.06:
            w = w + str(int(rng.integers(10)))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def make_corpus(out_dir: str, seed: int, n_tokens: int) -> dict[str, int]:
    """Write a seeded ``*.txt`` corpus (plus non-``.txt`` decoys and an
    empty file) and return the exact count of every word drawn.

    Word ids follow Zipf(``ZIPF_S``) over ``vocabulary()``; each token
    gets a random case (lower, Title, UPPER) and leading/trailing ASCII
    punctuation."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary()
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    ids = rng.choice(len(vocab), size=n_tokens, p=p / p.sum())
    forms = [vocab, [w.title() for w in vocab], [w.upper() for w in vocab]]
    case = rng.choice(3, size=n_tokens, p=[0.7, 0.2, 0.1])
    lead = rng.integers(len(LEADING), size=n_tokens)
    trail = rng.integers(len(TRAILING), size=n_tokens)
    tokens = [LEADING[a] + forms[c][i] + TRAILING[b]
              for i, c, a, b in zip(ids.tolist(), case.tolist(),
                                    lead.tolist(), trail.tolist())]
    # punctuation-only tokens sprinkled in (dropped by the tokenizer)
    for pos in rng.integers(n_tokens, size=n_tokens // 200).tolist():
        tokens[pos] += " " + PUNCT_ONLY[pos % len(PUNCT_ONLY)]
    os.makedirs(out_dir, exist_ok=True)
    bounds = (np.concatenate([[0], np.cumsum(FILE_SHARES)])
              * n_tokens).astype(int)
    bounds[-1] = n_tokens
    for f in range(len(FILE_SHARES)):
        chunk = tokens[bounds[f]:bounds[f + 1]]
        widths = rng.integers(4, 18, size=len(chunk) // 4 + 2)
        lines, i = [], 0
        for w in widths.tolist():
            if i >= len(chunk):
                break
            lines.append(" ".join(chunk[i:i + w]))
            i += w
        with open(os.path.join(out_dir, f"book-{f:02d}.txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    open(os.path.join(out_dir, "empty.txt"), "w").close()
    # decoys: real words in files the *.txt scan must skip
    for name in ("notes.md", "index.csv", "book-00.txt.bak"):
        with open(os.path.join(out_dir, name), "w") as fh:
            fh.write(" ".join(vocab[:500]) + "\n")
    counts = np.bincount(ids, minlength=len(vocab))
    return {vocab[i]: int(c) for i, c in enumerate(counts.tolist()) if c}


def check_wordcount(out_dir: str, m: int, expected: dict[str, int]
                    ) -> str | None:
    """None if ``out-0..out-<m-1>`` hold exactly ``expected``, each file
    sorted by code point and every word in its ``ord(w[0]) % m`` file;
    else the first problem found."""
    got: dict[str, int] = {}
    for b in range(m):
        path = os.path.join(out_dir, f"out-{b}")
        if not os.path.isfile(path):
            return f"missing out-{b}"
        with open(path, encoding="utf-8") as f:
            words = []
            for line in f.read().splitlines():
                word, _, count = line.rpartition(" ")
                if not word or not count.isdigit():
                    return f"out-{b}: malformed line {line!r}"
                if ord(word[0]) % m != b:
                    return f"out-{b}: {word!r} belongs in out-{ord(word[0]) % m}"
                if word in got:
                    return f"out-{b}: duplicate word {word!r}"
                got[word] = int(count)
                words.append(word)
        if words != sorted(words):
            return f"out-{b}: not sorted by code point"
    if got != expected:
        diff = set(got.items()) ^ set(expected.items())
        return (f"counts differ on {len(diff)} (word, count) pairs, "
                f"e.g. {sorted(diff)[:3]}")
    return None


# --------------------------------------------------------------------------
# DuckDB oracle
# --------------------------------------------------------------------------

def canon(df):
    """Columns sorted by name, integer/float/datetime widths unified,
    rows sorted: the canonical form both sides are compared in."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got, want) -> str | None:
    """None if two canonical frames hold exactly the same values."""
    import pandas as pd

    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        for x, y in zip(got[c].tolist(), want[c].tolist()):
            if isinstance(x, float) and isinstance(y, float):
                same = x == y or (math.isnan(x) and math.isnan(y))
            else:
                same = x == y or (pd.isna(x) and pd.isna(y))
            if not same:
                return f"column {c}: {x!r} != {y!r}"
    return None


class Oracle:
    """DuckDB views over one scale factor's parquet tables."""

    def __init__(self, sf_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads = 4")
        self.con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{sf_dir}/{t}.parquet'")

    def check(self, oracle_sql: str, got_pandas) -> str | None:
        want = canon(self.con.execute(oracle_sql).df())
        return compare(canon(got_pandas), want)

    def close(self) -> None:
        self.con.close()


# --------------------------------------------------------------------------
# artifact-tree guard
# --------------------------------------------------------------------------

def tree_digest(root: str) -> dict[str, str]:
    """relative path -> sha256 of every file under ``root``, skipping
    the writer's ``.tmp`` staging directory."""
    out: dict[str, str] = {}
    for base, dirs, files in os.walk(root):
        dirs[:] = sorted(d for d in dirs if d != ".tmp")
        for fn in files:
            path = os.path.join(base, fn)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = \
                    hashlib.sha256(f.read()).hexdigest()
    return out


def changed_files(before: dict[str, str], after: dict[str, str]) -> list[str]:
    keys = set(before) | set(after)
    return sorted(k for k in keys if before.get(k) != after.get(k))
