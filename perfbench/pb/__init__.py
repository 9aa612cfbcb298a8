"""Helpers for perfbench/run.py."""
