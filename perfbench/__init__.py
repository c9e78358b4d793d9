"""Seeded benchmark of the vectordb_etl_spark package (see README.md)."""
