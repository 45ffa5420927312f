"""Reusable distributed operators (geo joins and geometry, BPE,
rolling window hashes, corpus packing and mixture)."""
