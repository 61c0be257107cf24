"""sdp_spark — a PySpark-native analytics engine with the query surface of
the platform deployed by CDCgov/SDP (MySQL 5.6 / MariaDB 10.1 SQL semantics,
see /root/reference/openshift_resources/db-templates/mysql-persistent-template.json:68),
re-expressed Spark-first, plus Structured Streaming ingest and LLM-data-pipeline
operators (dedup, similarity search, text analysis, multimodal columns).

Layout
------
- ``sdp_spark.session``    — tuned SparkSession factory (AQE, Arrow, UTC).
- ``sdp_spark.sources``    — fixture/table loaders, csv/json/jdbc readers, sinks.
- ``sdp_spark.operators``  — relational / join / agg / window / setop / LLM ops.
- ``sdp_spark.functions``  — scalar function families (string/date/math/json/array).
- ``sdp_spark.streaming``  — Structured Streaming ops (windows, watermark, dedup).
- ``sdp_spark.plans``      — the operator registry binding every SURVEY.md §2 key
  to a (spark_fn, duckdb_oracle_sql) pair consumed by ``__spark_entry__.py``.
"""

__version__ = "0.1.0"


def unpersist_all() -> int:
    """Release every memoized DataFrame the operators hold, so a long-lived
    session (notebook, service) can return executor storage between
    pipeline phases; the next operator call rebuilds what it needs. Returns
    the number of DataFrames released. The rule is in ``sdp_spark.memo``."""
    from sdp_spark import memo

    return memo.unpersist_all()
