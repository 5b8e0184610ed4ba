"""PySpark-native analytics engine with the capability surface of
``Harkirat13805/global-seismic-data-pipeline`` (see SURVEY.md).

A composable, tested library — not a notebook port. Modules:

- ``session``    — SparkSession factory tuned for the engine
- ``schemas``    — canonical StructTypes (bronze/silver/control/ref)
- ``refdata``    — reference dimension builders (tectonic regions, risk bands)
- ``state``      — watermark/control-table incremental state
- ``sources``    — GeoJSON flattener, USGS REST client (gated), parquet
                   catalog, warehouse (atomic overwrite, MERGE, bucketing)
- ``functions``  — native column expressions (physics, cleaning, temporal, risk)
- ``operators``  — reusable distributed operators (dedup, spatial join, bands,
                   rolling, as-of join, near-dup, similarity, text,
                   binary payload metadata, skew salting, partitioning
                   hygiene)
- ``pipeline``   — medallion stages (bronze, silver, gold, reports,
                   maintenance, runner DAG)
- ``plans``      — driver-facing workloads + DuckDB oracles
"""

__version__ = "0.1.0"
