"""Reusable distributed operators (geo joins and geometry, rolling
window hashes, corpus packing and mixture)."""
