"""Declarative entity plans: spec → lazy DataFrame."""

from mongodb_etl_migration_spark.plans.spec import (  # noqa: F401
    EntitySpec,
    FKJoin,
)
from mongodb_etl_migration_spark.plans.compiler import compile_entity  # noqa: F401
