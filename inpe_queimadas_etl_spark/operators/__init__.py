"""Reusable distributed operators (geo joins and geometry, dedup,
text analysis, corpus packing and mixture)."""
