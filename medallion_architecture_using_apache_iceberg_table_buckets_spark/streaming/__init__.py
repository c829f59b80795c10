"""Structured Streaming variants of the medallion pipeline."""

from .file_ingest import stream_raw_to_bronze  # noqa: F401
