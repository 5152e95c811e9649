"""Ingest / refresh benchmark of search_engine_spark (see README.md)."""
