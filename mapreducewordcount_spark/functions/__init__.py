"""Scalar / vector function library (JVM-side first, Arrow second).

Everything here prefers built-in ``pyspark.sql.functions`` column
expressions (whole-stage-codegen'd, vectorized) and drops to
Arrow-batched Pandas UDFs only where column expressions genuinely
cannot express the semantics (nltk-parity tokenization, fixed-seed
hash permutations). No row-at-a-time Python UDFs in any hot path.
"""

from mapreducewordcount_spark.functions.tokenize import (  # noqa: F401
    PUNCT_CLASS,
    tokenize_expr,
    tokenize_parity,
)
from mapreducewordcount_spark.functions.buckets import bucket_expr  # noqa: F401
from mapreducewordcount_spark.functions.pii import (  # noqa: F401
    pii_counts,
    scrub_pii,
)
from mapreducewordcount_spark.functions.sampling import (  # noqa: F401
    hash_bernoulli,
    stratified_hash_sample,
)
from mapreducewordcount_spark.functions.repetition import (  # noqa: F401
    dup_line_char_fraction,
    dup_line_fraction,
    lines,
    top_word_fraction,
)
