"""Native C kernels — compiled on first use, ctypes-loaded, required.

The construction hot loops (xor peel, ribbon banded elimination, sbbf
scatter-OR) are inherently per-key sequential, which caps pure numpy at
~0.2-1 M keys/s/core vs the reference's 7-28 M/s (BASELINE.md). This module
compiles ``kernels.c`` with the system C compiler (``gcc``, or ``$CC``) on
the first kernel call (cached by source hash under the temp dir, atomic
rename so concurrent executor processes race safely) and exposes thin
numpy-array wrappers. These kernels are the only backend of the three
filters: if the compile fails, every kernel call raises ``NativeLoadError``
carrying the compiler's stderr. The numpy reference implementations live in
the test suite (``tests/filter_oracle.py``), which checks the kernels
against them byte for byte.

``km_md5_minhash`` is the one non-filter kernel: the default MinHash
signature pass of ``ops.dedup`` (word k-gram shingling, md5 and the
per-band min, one call per Arrow batch of texts). ``tests/test_native.py``
checks it against ``hashlib`` and against the JVM expression it replaced.

Deploy note: tools/package_zip.py ships ``kernels.c`` inside the --py-files
zip; ``pkgutil.get_data`` reads it through zipimport, so each executor node
compiles once into its local temp dir on first use.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import pkgutil
import subprocess
import tempfile

import numpy as np
from numpy.ctypeslib import ndpointer

_u64p = ndpointer(dtype=np.uint64, flags="C_CONTIGUOUS")
_u8p = ndpointer(dtype=np.uint8, flags="C_CONTIGUOUS")
_i64p = ndpointer(dtype=np.int64, flags="C_CONTIGUOUS")

_lib = None  # the loaded CDLL, or the NativeLoadError of the failed load


class NativeLoadError(RuntimeError):
    """kernels.c could not be compiled or loaded on this host."""


def _compile(c_path: str, so_path: str) -> None:
    cc = os.environ.get("CC", "gcc")
    base = [cc, "-O3", "-fPIC", "-shared", "-o", so_path, c_path]
    # -march=native vectorizes the probe loops (every kernel is exact
    # integer math, so codegen never changes results); retry without it
    # for compilers/platforms that reject it
    for cmd in (base[:2] + ["-march=native"] + base[2:], base):
        try:
            subprocess.run(cmd, check=True, capture_output=True, timeout=120)
            return
        except subprocess.CalledProcessError as exc:
            detail = (f"exit status {exc.returncode}, stderr: "
                      f"{exc.stderr.decode(errors='replace').strip()!r}")
        except (OSError, subprocess.TimeoutExpired) as exc:
            detail = str(exc)
    raise NativeLoadError(
        f"filterz_spark native kernels failed to compile with "
        f"{' '.join(cmd)!r} ({detail}); a working C compiler (gcc or $CC) "
        "is required")


def _bind(so_path: str):
    lib = ctypes.CDLL(so_path)
    lib.sbbf_insert.argtypes = [_u64p, ctypes.c_int64, _u64p, ctypes.c_int64]
    lib.sbbf_insert.restype = None
    lib.sbbf_contains.argtypes = [_u64p, ctypes.c_int64, _u64p,
                                  ctypes.c_int64, _u8p]
    lib.sbbf_contains.restype = None
    lib.xorf_attempt.argtypes = [
        _u64p, ctypes.c_int64, ctypes.c_uint64, ctypes.c_int32,
        ctypes.c_int64, ctypes.c_int64, ctypes.c_int64, ctypes.c_int32,
        _u64p,
    ]
    lib.xorf_attempt.restype = ctypes.c_int64
    lib.xorf_contains.argtypes = [
        _u64p, ctypes.c_uint64, ctypes.c_int32, ctypes.c_int64,
        ctypes.c_int64, ctypes.c_int32, _u64p, ctypes.c_int64, _u8p,
    ]
    lib.xorf_contains.restype = None
    lib.ribbon_attempt.argtypes = [
        _u64p, ctypes.c_int64, ctypes.c_uint64, ctypes.c_int64,
        ctypes.c_int32, ctypes.c_int32, _u64p,
    ]
    lib.ribbon_attempt.restype = ctypes.c_int32
    lib.ribbon_contains.argtypes = [
        ctypes.c_void_p, ctypes.c_int64, ctypes.c_uint64, ctypes.c_int32,
        ctypes.c_int32, ctypes.c_int32, _u64p, ctypes.c_int64, _u8p,
    ]
    lib.ribbon_contains.restype = None
    lib.km_md5_minhash.argtypes = [_u8p, _i64p, ctypes.c_int64, ctypes.c_int32,
                                   ctypes.c_int32, _i64p]
    lib.km_md5_minhash.restype = ctypes.c_int32
    return lib


def _load():
    """The kernel library; raises NativeLoadError (cached) if it cannot
    be built or loaded."""
    global _lib
    if _lib is None:
        src = pkgutil.get_data(__package__, "kernels.c")
        tag = hashlib.sha256(src).hexdigest()[:16]
        cache = os.path.join(tempfile.gettempdir(), f"filterz_native_{tag}")
        so_path = os.path.join(cache, "kernels.so")
        try:
            if not os.path.exists(so_path):
                os.makedirs(cache, exist_ok=True)
                tmp = f"{so_path}.tmp.{os.getpid()}"
                # compile from a PER-PID source copy and only then publish it
                # atomically: a concurrent worker must never read a
                # half-written shared kernels.c
                c_tmp = os.path.join(cache, f"kernels.tmp.{os.getpid()}.c")
                with open(c_tmp, "wb") as f:
                    f.write(src)
                _compile(c_tmp, tmp)
                os.replace(c_tmp, os.path.join(cache, "kernels.c"))  # for debugging
                os.replace(tmp, so_path)  # atomic: last writer wins, same bytes
            _lib = _bind(so_path)
        except NativeLoadError as exc:
            _lib = exc
        except OSError as exc:
            _lib = NativeLoadError(
                f"filterz_spark native kernels failed to build or load at "
                f"{so_path}: {exc}")
    if isinstance(_lib, NativeLoadError):
        raise _lib
    return _lib


def available() -> bool:
    """True when the compiled kernels load on this host."""
    try:
        _load()
    except NativeLoadError:
        return False
    return True


def _writable(blocks: np.ndarray) -> None:
    # ndpointer does not check WRITEABLE: without this guard the C kernel
    # would silently mutate the immutable bytes object backing a
    # deserialized filter
    if not blocks.flags.writeable:
        raise ValueError("assignment destination is read-only")


def sbbf_insert(blocks: np.ndarray, hashes: np.ndarray) -> None:
    """Scatter-OR hashes into the (num_blocks, 8) u64 block array in place."""
    _writable(blocks)
    lib = _load()
    b = np.ascontiguousarray(blocks, dtype=np.uint64)
    h = np.ascontiguousarray(hashes, dtype=np.uint64)
    lib.sbbf_insert(b, blocks.shape[0], h, h.size)
    if b is not blocks:
        blocks[...] = b


def sbbf_contains(blocks: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    lib = _load()
    b = np.ascontiguousarray(blocks, dtype=np.uint64)
    h = np.ascontiguousarray(hashes, dtype=np.uint64)
    out = np.empty(h.size, dtype=np.uint8)
    lib.sbbf_contains(b, blocks.shape[0], h, h.size, out)
    return out.view(bool)


def xorf_attempt(hashes: np.ndarray, seed: int, arity: int, segment_length: int,
                 segment_count_length: int, array_length: int, fp_bits: int,
                 fp_out: np.ndarray) -> int:
    """One construction attempt (reference queue peel). Returns the peeled
    count; fp_out (u64, len array_length) is filled only on a full peel."""
    lib = _load()
    h = np.ascontiguousarray(hashes, dtype=np.uint64)
    peeled = lib.xorf_attempt(h, h.size, seed & 0xFFFFFFFFFFFFFFFF,
                              arity, segment_length, segment_count_length,
                              array_length, fp_bits, fp_out)
    if peeled < 0:
        raise MemoryError("xorf_attempt: allocation failed")
    return int(peeled)


def xorf_contains(fps_u64: np.ndarray, seed: int, arity: int,
                  segment_length: int, segment_count_length: int,
                  fp_bits: int, hashes: np.ndarray) -> np.ndarray:
    lib = _load()
    h = np.ascontiguousarray(hashes, dtype=np.uint64)
    f = np.ascontiguousarray(fps_u64, dtype=np.uint64)
    out = np.empty(h.size, dtype=np.uint8)
    lib.xorf_contains(f, seed & 0xFFFFFFFFFFFFFFFF, arity, segment_length,
                      segment_count_length, fp_bits, h, h.size, out)
    return out.view(bool)


def ribbon_contains(solution: np.ndarray, seed: int, coeff_bits: int,
                    result_bits: int, hashes: np.ndarray) -> np.ndarray:
    """Probe against the solution in its NATIVE storage width (u8/u16/u32) —
    the probe window stays a few cache lines instead of the u64-widened
    form's 1KB, and the u16 case takes a 16-lane SIMD mask-expand path."""
    lib = _load()
    sol = np.ascontiguousarray(solution)
    h = np.ascontiguousarray(hashes, dtype=np.uint64)
    out = np.empty(h.size, dtype=np.uint8)
    lib.ribbon_contains(sol.ctypes.data_as(ctypes.c_void_p), sol.size,
                        seed & 0xFFFFFFFFFFFFFFFF, coeff_bits, result_bits,
                        sol.dtype.itemsize, h, h.size, out)
    return out.view(bool)


def ribbon_attempt(hashes: np.ndarray, seed: int, size: int, coeff_bits: int,
                   result_bits: int, sol_out: np.ndarray) -> bool:
    """One (multiplier, seed) construction try: per-key params + stable
    radix sort by start position + banded elimination + back-substitution,
    all in C. Returns False on an inconsistent system (retry with the next
    seed); sol_out (u64, len size) is filled only on success."""
    lib = _load()
    h = np.ascontiguousarray(hashes, dtype=np.uint64)
    status = lib.ribbon_attempt(h, h.size, seed & 0xFFFFFFFFFFFFFFFF,
                                size, coeff_bits, result_bits, sol_out)
    if status == -1:
        raise MemoryError("ribbon_attempt: allocation failed")
    return status == 0


def km_md5_minhash(data: np.ndarray, offsets: np.ndarray, k: int,
                   num_hashes: int) -> np.ndarray:
    """km_md5 MinHash of each text in an Arrow-layout string buffer: doc
    ``i`` is the UTF-8 bytes ``data[offsets[i]:offsets[i + 1]]``. Returns
    an int64 ``(n_docs, num_hashes)`` array; row ``i`` holds, per band b,
    the minimum of ``h1 + b*h2`` over the doc's word k-gram shingles
    (the contract of ``ops.dedup.minhash_signature_arrays``)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    lib = _load()
    d = np.ascontiguousarray(data, dtype=np.uint8)
    o = np.ascontiguousarray(offsets, dtype=np.int64)
    n = max(o.size - 1, 0)
    out = np.empty((n, num_hashes), dtype=np.int64)
    if lib.km_md5_minhash(d, o, n, k, num_hashes, out) != 0:
        raise MemoryError("km_md5_minhash: allocation failed")
    return out
