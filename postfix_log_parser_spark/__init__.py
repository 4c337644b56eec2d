"""postfix_log_parser_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of the reference postfix log
sessionizer (``/root/reference/lognormalizer/parse.py``), re-expressed
Spark-first.

Pipeline (batch):

    raw = read_text(spark, path)
    sessionize(parse_lines_arrow(raw), raw_lines=raw)
        ──► (events DataFrame, faults DataFrame, state DataFrame)
        ──analytics / sinks──► SQL over the 22-column ``events`` schema

The two calls fuse into one plan: one shuffle of the raw lines, then one
Python stage that parses and folds them.  ``parse_lines`` is the Catalyst
parse: the streaming pre-fault pass runs it, and the tests hold the Arrow
parse to it as an independent second implementation.

There is also a streaming variant (Structured Streaming +
applyInPandasWithState) and a 100-TB-scale extension layer (dedup / similarity / text analysis /
multimodal) under ``ext/``.
"""

from postfix_log_parser_spark import _pyworker

# in a Spark Python worker on CPython < 3.12, later tasks stop re-reading
# pyspark.zip (see _pyworker); a no-op in the driver
_pyworker.install()

from postfix_log_parser_spark.session import get_spark
from postfix_log_parser_spark.operators.parse import (
    dovecot_dim_from_raw,
    parse_lines,
    parse_lines_arrow,
)
from postfix_log_parser_spark.operators.sessionize import sessionize
from postfix_log_parser_spark.sources.text import lines_df, read_text

__all__ = [
    "get_spark",
    "parse_lines",
    "parse_lines_arrow",
    "dovecot_dim_from_raw",
    "sessionize",
    "read_text",
    "lines_df",
]
