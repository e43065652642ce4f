"""Mergeable sketches (commutative-monoid aggregation primitives).

All satisfy zero/update/merge/estimate/serialize (SURVEY.md §2.6):
Bloom and HLL and CMS merge to BIT-IDENTICAL state under any aggregation
order; t-digest and KLL are deterministic per merge order and hold their
published rank-error bounds under any order.
"""

from .base import MergeableSketch
from .bloom import BloomSketch
from .hll import HllSketch
from .cms import CmsSketch
from .tdigest import TDigestSketch
from .kll import KllSketch
from .mg import MisraGriesSketch
from .theta import ThetaSketch

SKETCH_KINDS = {
    "bloom": BloomSketch,
    "hll": HllSketch,
    "cms": CmsSketch,
    "tdigest": TDigestSketch,
    "kll": KllSketch,
    "theta": ThetaSketch,
    "mg": MisraGriesSketch,
}


def deserialize_sketch(kind: str, payload: bytes, params: dict) -> MergeableSketch:
    return SKETCH_KINDS[kind].deserialize(payload, params)
