"""First-character bucket partitioner (reference parity).

The reference hash-partitions words into M buckets by
``ord(word[0].lower()) % M`` (``src/worker.py:76``, mandated by
``instructions/instruction.md:41``). In Spark the real shuffle
partitioner is irrelevant to results (groupBy owns it); this
expression exists for *output-layout parity* — writing bucketed
output files that match the reference's ``out-<bucket>`` mapping —
and as the worked example of a skewed partitioner (SURVEY.md §1.4):
at M=4 every vowel-initial word lands in bucket 1, a guaranteed hot
partition at scale. ``salted_key`` below is the standard fix.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bucket_expr(word: Column | str, m: int) -> Column:
    """``ord(first char) % m`` as a pure column expression.

    ``F.ascii`` returns the code point of the first character (BMP),
    matching Python ``ord`` for the fixture alphabet (ASCII + latin-1
    accents, pinned in tests against FIXTURES.md §F3). The reference
    lowercases first (``src/worker.py:76``) — redundant there, kept
    here for exactness.
    """
    return F.pmod(F.ascii(F.lower(word)), F.lit(m)).cast("int")


def hex4(col: Column) -> Column:
    """The first 4 hex digits of ``md5(col)`` as a long in [0, 65536) —
    the hashed-bucket fold of the CMS, DSIR and langid feature tables
    (``pmod(hex4(...), N)`` is exactly uniform for any N dividing
    65536). ``queries/pipeline2._hex4_sql`` is its DuckDB twin."""
    return F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("long")


def salted_key(key: Column | str, buckets: int,
               salt_from: Column | str | None = None) -> Column:
    """Append a deterministic salt to a hot key for two-phase aggregation.

    At 100 TB a Zipfian key (the word "the"; a null join key) overloads
    one reducer. Standard recipe: aggregate on ``(key, salt)`` first
    (map-side combine shrinks each salted group), then re-aggregate on
    ``key``.

    ``salt_from`` MUST be a deterministic per-row discriminator the
    caller owns — a row id, a file offset, a source line column.
    The salt is its hash mod ``buckets``: recomputing a partition on
    retry reproduces the same salt for the same row, which is what
    makes the two-phase counts exact under partial stage recompute
    (a ``rand()`` or row-position salt can double-count there).
    Rows that are fully identical with no discriminator cannot be
    deterministically spread — hence the parameter is required.
    """
    if salt_from is None:
        raise ValueError(
            "salted_key needs salt_from: a deterministic per-row "
            "discriminator column (row id / offset); without one the "
            "salt cannot be retry-safe")
    col = F.col(key) if isinstance(key, str) else key
    src = F.col(salt_from) if isinstance(salt_from, str) else salt_from
    return F.concat_ws("#", col, F.pmod(F.xxhash64(src), F.lit(buckets)))
