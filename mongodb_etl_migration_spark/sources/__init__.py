"""Readers and writers (parquet-first; connector-shaped interfaces)."""

from mongodb_etl_migration_spark.sources.writers import (  # noqa: F401
    write_clustered,
    write_table,
)
