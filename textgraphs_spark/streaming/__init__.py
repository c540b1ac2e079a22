"""Structured Streaming entry points.

The reference has no streaming surface (processing is batch per chunk;
SURVEY.md §2.11) — this package holds the exactly-once incremental ER
fold (``er``).
"""
