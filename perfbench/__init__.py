"""End-to-end and per-layer crawl benchmark for crawlspark (see README.md)."""
