"""Static approximate-membership filters (build once, probe many).

Partition-local structures at the Spark layer: one filter per partition
(the reference's one-filter-per-section model, src/bench.zig:240-249);
global probe = OR over partition filters. SBBF is additionally OR-mergeable.
"""

from .sbbf import SbbfFilter
from .xorf import XorFilter
from .ribbon import RibbonFilter

FILTER_KINDS = {
    "sbbf": SbbfFilter,
    "xorf": XorFilter,
    "ribbon": RibbonFilter,
}


def deserialize_filter(kind: str, payload: bytes, params: dict):
    return FILTER_KINDS[kind].deserialize(payload, params)
