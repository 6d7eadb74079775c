"""Benchmark of the ingest engine (see NOTES.md)."""
