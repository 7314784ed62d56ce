"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference video-streaming-analytics lakehouse
(Sarishc/Real-Time-Video-Streaming-Analytics-Lakehouse).

Layout:
  session.py   - SparkSession factory (AQE, Kryo, UTC, shuffle tuning)
  sources/     - readers (parquet batch + file streams), txlog stream source
  functions/   - scalar function helpers incl. Snowflake-dialect mappings
  operators/   - dedup, data-quality, merge/upsert, text, similarity ops
  plans/       - the query catalog: relational core + the 11 analytics views
  streaming/   - Structured Streaming pipelines (watermark + tumbling windows)

Everything is DataFrame-first: queries are declared logical plans handed to
Catalyst; no RDDs, no row-at-a-time Python UDFs in any hot path.
"""

__version__ = "0.1.0"
