"""DataFrame-level operators: span algebra, extraction pipeline, dedup,
similarity search, text analysis."""
