"""streaming_demos_spark — a PySpark-native analytics engine.

Re-expresses the query and data-processing capabilities of the
``jaehyeon-kim/streaming-demos`` reference (four streaming-analytics demo
projects: CDC ingestion, realtime dashboard, windowed supplier stats,
LinUCB recommender) as an idiomatic Spark engine:

- batch relational analytics  -> DataFrame / Spark SQL (Catalyst-planned)
- event-time streaming        -> Structured Streaming (watermarks, windows)
- CDC ingestion               -> Debezium-envelope unwrap operators
- stateful ML (LinUCB)        -> one grouped aggregate (stateful in update
                                 mode) + a pandas UDF inverse
- 100 TB pipeline extensions  -> dedup, similarity search, text analysis

Everything is declared through the DataFrame/SQL API so Catalyst owns
predicate pushdown, column pruning, join strategy, and partial
aggregation; Python touches data only through Arrow-vectorized pandas
UDFs on paths built-ins cannot express.
"""

from streaming_demos_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
