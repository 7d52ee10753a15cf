"""End-to-end and per-layer benchmark for trialstreamer_spark (see README.md)."""
