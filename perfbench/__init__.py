"""Standalone benchmark for cloudtiff_spark (see perfbench/README.md)."""
