"""Incremental dedup surface: each cycle signs, bands and reconciles the
delta of input files as batch steps (``e2e.streaming_dedup_cycle``).
``windows.py`` holds the one Structured Streaming query, outside the
dedup path."""
