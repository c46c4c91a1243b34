"""Incremental dedup surface: each cycle signs, bands and reconciles the
delta of input files as batch steps (``e2e.streaming_dedup_cycle``),
with one wave log as its state (``stateful.read_waves``). No Structured
Streaming query runs."""
