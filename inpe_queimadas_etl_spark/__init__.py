"""inpe_queimadas_etl_spark — a PySpark-native analytics engine.

A ground-up re-expression of the reference INPE fire-hotspot ETL
system (rafaelparanhoss/inpe-queimadas-etl, surveyed in SURVEY.md) as
an idiomatic Spark DataFrame/SQL engine: daily CSVs are ingested,
curated and deduplicated, enriched by point-in-polygon, rolled up
into marts, published to a partitioned warehouse and served to a
dashboard. Alongside it sit the large-scale training-data operators
(dedup, similarity-search kernels, text analysis, multimodal
plumbing) exercised by the query suite.

Layout
------
- ``session``    SparkSession factory tuned for local testing but
                 configured with scale-ready defaults (AQE, dynamic
                 partition overwrite, Arrow).
- ``schemas``    explicit StructTypes for every layer table.
- ``sources``    CSV ingest with dialect sniffing + fuzzy column
                 resolution (reference: src/etl/extract, transform).
- ``functions``  scalar column helpers (event hash, cleansing,
                 decimal-comma cast, event-day coalesce).
- ``transform`` / ``enrich`` / ``marts``
                 curation, spatial attribution and the mart rollups.
- ``pipeline``   the batch orchestration and the warehouse publish.
- ``queries`` / ``geoqueries`` / ``api`` / ``serving_cache``
                 the dashboard read path and its HTTP front.
- ``cli``        ``run``, ``checks``, ``validate-repo`` and
                 ``corpus-curate``.
- ``operators``  reusable distributed operators: relational helpers
                 (zero-fill, top-1-per-group, moving averages),
                 dedup family, similarity search, text analysis,
                 multimodal column plumbing, geo joins.
- ``streaming``  the landing stream: a Structured Streaming
                 foreachBatch over the landing dir that runs the batch
                 pipeline step per landed daily CSV.
- ``suite``      the declared query suite: name -> (Spark callable,
                 DuckDB oracle SQL) consumed by __spark_entry__.py.
"""

__version__ = "0.1.0"
