"""Reusable distributed operators (geo joins, dedup, relational
helpers, text analysis, multimodal plumbing)."""
