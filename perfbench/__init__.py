"""Closed-loop benchmark of the crawl engine (see CONTRACT.md)."""
