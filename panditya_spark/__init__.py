"""panditya_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
the reference app (tylergneill/panditya — Flask + NetworkX prosopography
graph explorer), re-expressed Spark-first: DataFrame/SQL plans optimized
by Catalyst, iterative graph algorithms as join loops with checkpoint
hygiene, and a set of large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing) designed
for 100 TB-class inputs.

Layout:
    session.py    SparkSession factory (AQE, Arrow, UTC, host-derived cores and heap)
    etl.py        reference ETL: Pandit CSV -> entities/edges, SETI CSV -> e-text links
    serving.py    the reference's API endpoints (k-hop subgraph, SETI views, dropdown)
    sources/      loaders (parquet testdata, reference-shaped CSVs), sinks, SQL views
    operators/    relational, graph, dedup, text, similarity, multimodal, ml,
                  partitioning, quality, sampling, timeseries
    functions/    scalar function library (collation, labels)
    plans/        query registry: name -> (spark, sf_dir) -> DataFrame + oracle SQL
    streaming/    Structured Streaming operators over the events table
"""

__version__ = "0.1.0"
