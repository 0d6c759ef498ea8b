"""Table catalog: parquet-backed DataFrames + SQL views.

Replaces the reference's two ad-hoc catalogs — remote ``schema.table``
strings pushed to WRDS Postgres and local CSV caches
(``cloud_TAQ/sp500ccm_generator.py:7-37``, ``cloud_TAQ/taq_chunks.py:14``)
— with one registry of parquet-backed lazy DataFrames.  Reading
through here keeps column pruning + predicate pushdown intact (the
scan only materializes what downstream operators reference).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# The driver-generated benchmark tables (TESTDATA.md).
DRIVER_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# WRDS-shaped semantic fixtures (FIXTURES.md; generated by
# wrds_data_pipeline_spark.fixtures for tests).
WRDS_TABLES = (
    "dsp500list",
    "dsf",
    "msenames",
    "ccmxpf_linktable",
    "nbbo",
    "firm_ratio",
    "taqmclink",
    "adjacency_edges",
)


def load_tables(
    spark: SparkSession, data_dir: str, names: tuple[str, ...] = DRIVER_TABLES
) -> dict[str, DataFrame]:
    # TIMESTAMP(NANOS) parquet (events table) is otherwise rejected by
    # the reader; as long ns values, it stays scannable + vectorized
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out: dict[str, DataFrame] = {}
    for name in names:
        path = os.path.join(data_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = spark.read.parquet(path)
    return out


def register_views(
    spark: SparkSession, data_dir: str, names: tuple[str, ...] = DRIVER_TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view so ``spark.sql`` can address it.

    Views are lazy: registering all tables costs nothing until a query
    actually scans one.
    """
    tables = load_tables(spark, data_dir, names)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
