"""Structured Streaming entry points.

The reference has no streaming surface (processing is batch per chunk;
SURVEY.md §2.11) — this package covers incremental page ingestion and
extraction, windowed event aggregation with late-data handling, stateful
sessionization, and the exactly-once incremental ER fold (``er``).
"""
