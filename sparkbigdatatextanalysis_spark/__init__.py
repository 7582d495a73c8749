"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference entity-resolution / text-similarity pipeline
(KonstantinKochetov/SparkBigDataTextAnalysis), rebuilt Spark-first:
DataFrame / Spark SQL / Catalyst / Structured Streaming. No RDDs.

Layout:
  session     - SparkSession builder (AQE on, Arrow on, local tuning)
  sources     - CSV catalog reader (corrupt-record channel), parquet
                event-timestamp normalizer, bucketed tables
  functions   - expression-level scalar/text/vector/hashing functions,
                session hygiene (release, named eager jobs)
  operators   - DataFrame -> DataFrame relational operators (tfidf,
                similarity joins, evaluation, dedup, ann, relational)
  streaming   - Structured Streaming windowed aggregations, stateful
                sessionization, funnel, anomaly monitor, ingest loop
  plans       - physical-plan audit used by the plan-budget tests
"""

__version__ = "0.1.0"
