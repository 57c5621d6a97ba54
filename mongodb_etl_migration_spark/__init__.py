"""mongodb_etl_migration_spark — a PySpark-native analytics/ETL engine.

A from-scratch engine with the query and data-processing capabilities of
the reference pipeline ``apnolatech/mongodb-etl-migration`` (a Python
MongoDB → PostgreSQL/Cassandra batch ETL, surveyed in ``SURVEY.md``),
re-expressed Spark-first:

- every scan/filter/projection/join/aggregation is a lazy DataFrame plan
  optimized by Catalyst (predicate pushdown, column pruning, broadcast
  joins, AQE skew handling) instead of eager Python loops over
  ``list[dict]`` batches;
- the reference's per-row lambdas (``etl/transformers/field_mapper.py``)
  become Column-expression builders (``functions/``);
- its hand-rolled dict caches (``etl/utils/id_mapper.py``) become
  broadcast hash joins; its post-migration read-back phase becomes pure
  derivations over lazy DataFrames (``operators/denorm.py``);
- beyond parity, large-scale training-data operators (dedup, similarity
  search, text analysis, multimodal plumbing) live in ``operators/``.

Layout:
    session.py    SparkSession factory (AQE, UTC, tuned shuffle)
    catalog.py    testdata table catalog
    functions/    scalar Column builders + key-generation + crypto UDFs
    operators/    dedup, similarity, text, denorm, hierarchy, validation
    plans/        declarative entity-spec compiler (incl. §2.9 fan-out)
    sources/      readers/writers (parquet-first, connector-shaped API)
    streaming/    watermarked windows, sessionization, stream-stream join
"""

from mongodb_etl_migration_spark.session import get_spark
from mongodb_etl_migration_spark.catalog import Catalog

__all__ = ["get_spark", "Catalog"]
__version__ = "0.1.0"
