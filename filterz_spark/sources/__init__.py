"""Input sources: the deterministic synthetic pages table."""
