"""Crawl benchmark for npm_search_spark (see README.md)."""
