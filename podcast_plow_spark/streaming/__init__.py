"""Structured-Streaming seed ingestion into the crawl engine's frontier."""
