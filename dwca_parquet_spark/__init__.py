"""dwca_parquet_spark — a PySpark-native analytics engine.

A brand-new engine with the query/data-processing capabilities of
NINAnor/dwca-parquet (reference, read-only at /root/reference), re-expressed
Spark-first: the reference delegates everything relational to an embedded
DuckDB via one templated SQL string (reference ``templates/query.sql:1-5``);
here the same semantics — and their obvious generalization to a full
analytics surface (SURVEY.md §2.G) — are declared through the DataFrame API
so Catalyst/Tungsten own optimization and execution.

Layout:
    session.py    SparkSession builder (AQE, zstd, tuned shuffle partitions)
    sources/      DwC-A archive reader (zip + meta.xml), catalog harvesters
    plans/        composed logical plans (dwca_flatten = the reference query)
    operators/    relational core + north-star ops (dedup, similarity, text,
                  multimodal, event windows)
    functions/    portable column expressions (hashing, geometry)
    sinks/        parquet (zstd, versioned+latest, single-file), JSON-array
    streaming/    Structured Streaming variants of the event operators
"""

from dwca_parquet_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
