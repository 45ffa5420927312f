"""inpe_queimadas_etl_spark — a PySpark-native analytics engine.

A ground-up re-expression of the reference INPE fire-hotspot ETL
system (rafaelparanhoss/inpe-queimadas-etl, surveyed in SURVEY.md) as
an idiomatic Spark DataFrame/SQL engine: daily CSVs are ingested,
curated and deduplicated, enriched by point-in-polygon, rolled up
into marts, published to a partitioned warehouse and served to a
dashboard. Alongside it sits a training-corpus materialization
(``corpus_pipeline`` over the ``corpus_ops`` dedup, curation,
decontamination, split and packing operators).

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
                 the dashboard read path and its HTTP front;
                 ``geoprep`` builds the UF shapes it draws from the
                 web municipality shapes.
- ``cli``        ``run``, ``checks``, ``validate-repo`` and
                 ``corpus-curate``.
- ``operators``  reusable distributed operators: geo joins and
                 geometry, rolling window hashes, mixture
                 resampling, pack materialization.
- ``corpus_pipeline`` / ``corpus_ops``
                 the training-corpus materialization behind
                 ``corpus-curate`` and the operators it composes.
- ``streaming``  the landing stream: a Structured Streaming
                 foreachBatch over the landing dir that runs the batch
                 pipeline step per landed daily CSV.
"""

__version__ = "0.1.0"
