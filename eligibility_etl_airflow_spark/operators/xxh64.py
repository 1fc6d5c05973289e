"""Vectorized XXH64 — bit-exact numpy twin of Spark's ``xxhash64``.

Spark's ``xxhash64(string_col)`` hashes the string's UTF-8 bytes with
the standard XXH64 algorithm (Collet's public-domain xxHash, the
little-endian variant Spark's ``XXH64.hashUnsafeBytes`` implements) at
seed 42. The winnowing stage (``neardup._winnow_stage``) and the
trainers' driver-side featurizers (``quality_model``) hash char and
token grams in numpy instead of ``transform(..., xxhash64(gram))`` —
that requires reproducing the JVM hash bit for bit, which this module
does: every u64 op runs with explicit wraparound, reads are
little-endian (matching both the xxHash spec and Spark's
``Platform.getLong`` on this platform family), and the three tail
paths (8-byte words, one 4-byte word, single bytes) mirror
``hashUnsafeBytes`` exactly.

Bit-identity with the JVM is pinned by tests/test_xxh64.py on an
exhaustive boundary corpus (every byte length 0..70 through all tail
paths, multi-byte UTF-8, supplementary-plane chars, \\x00 and \\xff
fills) — compared value-for-value against ``F.xxhash64``.
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    rr = np.uint64(r)
    return (x << rr) | (x >> np.uint64(64 - r))


def _word64(mat: np.ndarray, off: int) -> np.ndarray:
    """Little-endian u64 from 8 byte columns of an (n, L) uint8 matrix."""
    acc = mat[:, off].astype(np.uint64)
    for j in range(1, 8):
        acc |= mat[:, off + j].astype(np.uint64) << np.uint64(8 * j)
    return acc


def _word32(mat: np.ndarray, off: int) -> np.ndarray:
    acc = mat[:, off].astype(np.uint64)
    for j in range(1, 4):
        acc |= mat[:, off + j].astype(np.uint64) << np.uint64(8 * j)
    return acc


def xxh64_u8mat(mat: np.ndarray, seed: int = 42) -> np.ndarray:
    """XXH64 of each ROW of an (n, L) uint8 matrix → (n,) int64 (the
    JVM's signed view of the u64 hash). All rows share one length L, so
    the whole stripe/tail structure is compile-time-fixed and every op
    vectorizes across rows. Any other shape raises ValueError."""
    mat = np.ascontiguousarray(mat, dtype=np.uint8)
    if mat.ndim != 2:
        raise ValueError(f"xxh64_u8mat needs an (n, L) matrix, got shape {mat.shape}")
    n, length = mat.shape
    s = np.uint64(seed)
    with np.errstate(over="ignore"):
        if length >= 32:
            v1 = np.full(n, s + _P1 + _P2, dtype=np.uint64)
            v2 = np.full(n, s + _P2, dtype=np.uint64)
            v3 = np.full(n, s, dtype=np.uint64)
            v4 = np.full(n, s - _P1, dtype=np.uint64)
            off = 0
            while off + 32 <= length:
                v1 = _rotl(v1 + _word64(mat, off) * _P2, 31) * _P1
                v2 = _rotl(v2 + _word64(mat, off + 8) * _P2, 31) * _P1
                v3 = _rotl(v3 + _word64(mat, off + 16) * _P2, 31) * _P1
                v4 = _rotl(v4 + _word64(mat, off + 24) * _P2, 31) * _P1
                off += 32
            h = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
            for v in (v1, v2, v3, v4):
                h = (h ^ (_rotl(v * _P2, 31) * _P1)) * _P1 + _P4
        else:
            h = np.full(n, s + _P5, dtype=np.uint64)
            off = 0
        h = h + np.uint64(length)
        while off + 8 <= length:
            k1 = _rotl(_word64(mat, off) * _P2, 31) * _P1
            h = _rotl(h ^ k1, 27) * _P1 + _P4
            off += 8
        if off + 4 <= length:
            h = _rotl(h ^ (_word32(mat, off) * _P1), 23) * _P2 + _P3
            off += 4
        while off < length:
            h = _rotl(h ^ (mat[:, off].astype(np.uint64) * _P5), 11) * _P1
            off += 1
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h.view(np.int64)


def xxh64_slices(
    buf: np.ndarray, starts: np.ndarray, lengths: np.ndarray, seed: int = 42
) -> np.ndarray:
    """XXH64 of ``m`` variable-length byte slices of one flat uint8
    buffer → (m,) int64. Slices are grouped by length so each group runs
    through :func:`xxh64_u8mat` fully vectorized — char k-grams have at
    most a handful of distinct byte lengths (k..4k), so the group count
    stays tiny regardless of corpus size."""
    m = len(starts)
    out = np.empty(m, dtype=np.int64)
    if m == 0:
        return out
    starts = np.asarray(starts, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    for ln in np.unique(lengths):
        idx = np.nonzero(lengths == ln)[0]
        if ln == 0:
            out[idx] = xxh64_u8mat(np.empty((len(idx), 0), dtype=np.uint8), seed)
            continue
        gather = starts[idx, None] + np.arange(ln, dtype=np.int64)[None, :]
        out[idx] = xxh64_u8mat(buf[gather], seed)
    return out
