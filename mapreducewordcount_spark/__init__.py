"""mapreducewordcount_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference MapReduce word-count engine
(``aPerezCarrillo/MapReduceWordCount``; see SURVEY.md) as an idiomatic
Apache Spark DataFrame/SQL engine, extended with the operators a
large-scale LLM training-data pipeline needs (deduplication,
similarity search, text analysis, multimodal column plumbing).

Design stance (SURVEY.md §7): capability parity at the *output
contract*, not mechanism parity. The reference's Flask scheduler,
HTTP polling protocol, intermediate bucket files and manual shuffle
(reference ``src/driver.py``, ``src/worker.py``) are subsumed by
Spark's DAGScheduler, shuffle service and file-source split packing —
none of it is reimplemented here. What remains is the declarative
query surface, built to survive a 1000-executor / 100 TB deployment:
filters push to the scan, small dimensions broadcast, aggregations
combine map-side, and every Python-side function is Arrow-vectorized.
"""

__version__ = "0.1.0"

from mapreducewordcount_spark.session import (  # noqa: F401
    _skip_unchanged_zip_rereads,
    get_spark,
)

# every engine UDF unpickles a function from this package, so a Python
# worker's first engine task imports it and installs the hook there
_skip_unchanged_zip_rereads()
