"""Input sources: deterministic synthetic pages table + packed key reader."""
