"""The one payload codec every filter and sketch kind serializes through.

The reference stores each filter as a little-endian array whose length is
fixed by its parameters (``src/sbbf.zig:9-26``, SURVEY.md §2.1). Array-backed
kinds (sbbf, xorf, ribbon, hll, cms, bloom, theta) store exactly that:
``encode`` writes the array's little-endian bytes and ``decode`` reads them
back into the shape their params describe. Header kinds (kll, tdigest, mg)
parse their own header and call ``check_size`` on each length it implies.

A payload whose length differs from what its params describe is corrupt or
mislabelled: decoding it would probe past the array or answer for a
different filter, so both functions raise ``ValueError`` instead.
"""

from __future__ import annotations

import numpy as np


def check_size(kind: str, payload: bytes, size: int) -> None:
    """Refuse a payload that is not exactly ``size`` bytes."""
    if len(payload) != size:
        raise ValueError(f"{kind} payload is {len(payload)} bytes; "
                         f"its header/params describe {size}")


def encode(arr: np.ndarray) -> bytes:
    """The little-endian bytes of ``arr``."""
    return arr.astype(arr.dtype.newbyteorder("<"), copy=False).tobytes()


def decode(kind: str, payload: bytes, dtype, shape) -> np.ndarray:
    """A writable native-``dtype`` array of ``shape`` read from the
    little-endian ``payload``, which must hold exactly that many items."""
    dtype = np.dtype(dtype)
    check_size(kind, payload, dtype.itemsize * int(np.prod(shape)))
    return np.frombuffer(payload, dtype=dtype.newbyteorder("<")) \
        .astype(dtype).reshape(shape)
