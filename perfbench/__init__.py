"""Crawl-graph benchmark for powergraph_spark (see run.py)."""
