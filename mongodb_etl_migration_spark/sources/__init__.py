"""Readers (parquet-first; connector-shaped interfaces)."""
