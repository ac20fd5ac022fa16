"""kstreamjs_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of song9446/kstreamjs (reference at
/root/reference, see SURVEY.md).

Design stance (SURVEY.md §7): this is NOT a port. The reference is a
pull-based chain of async closures over Kafka messages
(/root/reference/src/stream.ts:18-271); here every operator lowers to stock
DataFrame / Structured Streaming primitives so Catalyst + Tungsten pick the
physical strategy. The package adds the broader analytical surface
(joins, aggregation, window functions, dedup, similarity search, text
analysis) declared in SURVEY.md §2B.

Layout:
  session     SparkSession factory (AQE, Arrow, UTC, sane shuffle sizing)
  tables      test-table registry for /root/testdata/sf*/
  stream      fluent Stream facade — API parity with the reference's operators
  operators/  window collect, dedup, similarity, text, multimodal
  sources/    parquet/kafka source & sink builders
  streaming/  file-replay streaming helpers, statistics listener
  queries/    the declared query inventory (SURVEY.md §2B) + duckdb oracles
  plans/      explain/plan-assertion helpers used by tests and bench
"""

__version__ = "0.1.0"

from .session import get_spark  # noqa: E402,F401
from .stream import Stream  # noqa: E402,F401
