"""Crawl-loop machinery: frontier, seen-set, politeness."""
