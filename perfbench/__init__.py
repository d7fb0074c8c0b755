"""Benchmark for the request lifecycle and the registered query mix;
see ``run.py`` and ``NOTES.md``."""
