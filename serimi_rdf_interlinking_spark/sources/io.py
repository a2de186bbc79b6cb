"""Table reads for the CLI's -s/-t inputs: a SPARQL endpoint URL, an
Iceberg table name, or a parquet path.

`iceberg_available()` probes for the Iceberg runtime jars; without them
an identifier is read as a parquet path.
The KG pipeline's per-stage checkpoints do not go through this module:
they are always parquet directories (see plans/pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, identifier: str) -> DataFrame:
    if identifier.startswith(("http://", "https://")):
        # live SPARQL endpoint (the reference's only source mode) —
        # dimension-scale pulls only; see sources/sparql_endpoint.py
        from .sparql_endpoint import read_sparql_endpoint

        return read_sparql_endpoint(spark, identifier)
    if iceberg_available(spark) and "/" not in identifier:
        return spark.read.table(identifier)
    return spark.read.parquet(identifier)
