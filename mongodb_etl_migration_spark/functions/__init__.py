"""Scalar function library: Column builders, key generation, crypto.

Each function maps to an operator in SURVEY.md §2.3/§2.4 and cites the
reference implementation it re-expresses. ~90% of the reference's
row-level lambdas compile to built-in JVM-side Column expressions
(whole-stage codegen, no Python in the hot path) — UUID5 and TimeUUID
included; only Salsa20 needs a (vectorized pandas) UDF.
"""

from mongodb_etl_migration_spark.functions.scalars import (  # noqa: F401
    bucket_url_rewrite,
    coalesce_nonempty,
    composite_key,
    content_truncate,
    dni_format,
    email_normalize,
    full_path,
    gender_normalize,
    keyint_default,
    mime_from_filetype,
    path_depth,
    phone_digits,
    phone_e164ish,
    role_name_normalize,
    room_type,
    upper_role,
)
from mongodb_etl_migration_spark.functions.keys import (  # noqa: F401
    assign_sequential_ids,
    timeuuid_deterministic,
    uuid5_oid,
)
