"""Vectorized XXH64 — bit-compatible with Spark's ``xxhash64``.

Spark's native ``xxhash64(col)`` expression hashes a string column's
UTF-8 bytes with XXH64 (seed 42).  The MinHash shingle pipeline needs
those exact hash values (the LSH banding and the verified-Jaccard
sets are built on them), but computing them row-by-row through the
interpreted ``transform(...)`` lambda — after building every shingle
string with ``array_join(slice(...))`` — was the dominant cost of
``dedup_minhash_lsh``.  This module implements XXH64 as a handful of
masked numpy passes over a padded byte matrix so an Arrow pass can
hash an entire Arrow batch of shingles at once (guide §4.2).

The algorithm follows the public xxHash specification (XXH64, Yann
Collet, BSD — spec at github.com/Cyan4973/xxHash); correctness is
pinned against Spark's own expression output in
tests/test_minhash_opt.py over corpus shingles and random strings of
every tail-length class (0-3 / 4-7 / 8-31 / >=32 bytes).

All arithmetic is uint64 with natural wraparound; every constant is
wrapped in ``np.uint64`` (numpy 1.x would otherwise promote mixed
uint64/int ops to float64).
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_U64 = np.uint64(64)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    rr = np.uint64(r)
    return (x << rr) | (x >> (_U64 - rr))


def _u64_at(padded: np.ndarray, rows: np.ndarray,
            off: np.ndarray) -> np.ndarray:
    """Little-endian u64 gather at per-row byte offsets."""
    cols = off[:, None] + np.arange(8)
    return np.ascontiguousarray(
        padded[rows[:, None], cols]).view(np.uint64).ravel()


def _u32_at(padded: np.ndarray, rows: np.ndarray,
            off: np.ndarray) -> np.ndarray:
    cols = off[:, None] + np.arange(4)
    return np.ascontiguousarray(
        padded[rows[:, None], cols]).view(np.uint32).ravel() \
        .astype(np.uint64)


def xxh64_padded(padded: np.ndarray, lens: np.ndarray,
                 seed=42) -> np.ndarray:
    """XXH64 of N byte strings given as a zero-padded uint8 matrix
    ``padded`` (N x L, row i valid for ``lens[i]`` bytes; padding must
    allow 8 readable bytes past every offset actually used — pad the
    matrix width to a multiple of 8 plus 8 slack).  Returns uint64.

    ``seed`` may be a scalar or a per-row uint64 array (the vector
    form implements Spark's multi-argument ``xxhash64`` chaining,
    where each value's hash seeds the next argument's hash).
    """
    n = len(lens)
    lens = lens.astype(np.int64)
    if np.isscalar(seed) or getattr(seed, "ndim", 0) == 0:
        seed_u = np.full(n, np.uint64(seed), dtype=np.uint64)
    else:
        seed_u = seed.astype(np.uint64)
    h = np.empty(n, dtype=np.uint64)

    long = lens >= 32
    if long.any():
        li = np.nonzero(long)[0]
        llens = lens[li]
        v1 = seed_u[li] + _P1 + _P2
        v2 = seed_u[li] + _P2
        v3 = seed_u[li].copy()
        v4 = seed_u[li] - _P1
        nblocks = llens // 32
        for blk in range(int(nblocks.max())):
            act = np.nonzero(nblocks > blk)[0]
            rows = li[act]
            base = np.full(len(act), blk * 32, dtype=np.int64)
            for lane, v in enumerate((v1, v2, v3, v4)):
                k = _u64_at(padded, rows, base + lane * 8)
                v[act] = _rotl(v[act] + k * _P2, 31) * _P1
        acc = (_rotl(v1, 1) + _rotl(v2, 7)
               + _rotl(v3, 12) + _rotl(v4, 18))
        for v in (v1, v2, v3, v4):
            acc = (acc ^ (_rotl(v * _P2, 31) * _P1)) * _P1 + _P4
        h[li] = acc
    h[~long] = seed_u[~long] + _P5

    h += lens.astype(np.uint64)

    # 8-byte tail chunks (at most 3 after the 32-byte blocks)
    base = np.where(long, (lens // 32) * 32, 0)
    rem = lens - base
    max8 = int((rem // 8).max()) if n else 0
    for step in range(max8):
        act = np.nonzero(rem >= (step + 1) * 8)[0]
        off = base[act] + step * 8
        k = _rotl(_u64_at(padded, act, off) * _P2, 31) * _P1
        hh = h[act] ^ k
        h[act] = _rotl(hh, 27) * _P1 + _P4
    base = base + (rem // 8) * 8
    rem = lens - base

    # one 4-byte chunk
    act = np.nonzero(rem >= 4)[0]
    if len(act):
        k = _u32_at(padded, act, base[act]) * _P1
        hh = h[act] ^ k
        h[act] = _rotl(hh, 23) * _P2 + _P3
        base[act] += 4
        rem = lens - base

    # remaining single bytes (at most 3)
    maxb = int(rem.max()) if n else 0
    for step in range(maxb):
        act = np.nonzero(rem > step)[0]
        b = padded[act, base[act] + step].astype(np.uint64)
        hh = h[act] ^ (b * _P5)
        h[act] = _rotl(hh, 11) * _P1

    # avalanche
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


#: per-call block — keeps the padded byte matrix and the uint64
#: temporaries cache-sized: 32 concurrent workers each streaming
#: multi-MB temporaries thrash the box's shared memory system
#: (measured 10x per-task slowdown at 64k-item blocks under 32-way
#: concurrency; 8k blocks are ~5x faster even solo)
_PAIR_BLOCK = 1 << 13


def xxh64_pair(items: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """The engine's dual 128-bit n-gram key: h1 = xxhash64(s),
    h2 = xxhash64(s, 's2') (Spark's multi-arg chaining:
    xxh64(b"s2", seed=h1)).  Processes in cache-sized blocks;
    returns two int64 arrays."""
    s2 = np.frombuffer(b"s2", dtype=np.uint8)
    h1s, h2s = [], []
    for lo in range(0, len(items), _PAIR_BLOCK):
        block = items[lo:lo + _PAIR_BLOCK]
        h1 = _xxh64_bytes_block(block, 42)
        pad = np.zeros((len(block), 16), dtype=np.uint8)
        pad[:, :2] = s2
        h2 = xxh64_padded(pad, np.full(len(block), 2, np.int64),
                          h1.view(np.uint64)).view(np.int64)
        h1s.append(h1)
        h2s.append(h2)
    if not h1s:
        e = np.empty(0, dtype=np.int64)
        return e, e
    return np.concatenate(h1s), np.concatenate(h2s)


def xxh64_bytes(items: list[bytes], seed: int = 42) -> np.ndarray:
    """XXH64 over a list of byte strings; returns int64 (two's
    complement — the signed value Spark's ``xxhash64`` returns).
    Internally blocked (_PAIR_BLOCK) to keep temporaries cache-sized
    under worker concurrency."""
    if len(items) <= _PAIR_BLOCK:
        return _xxh64_bytes_block(items, seed)
    return np.concatenate([
        _xxh64_bytes_block(items[lo:lo + _PAIR_BLOCK], seed)
        for lo in range(0, len(items), _PAIR_BLOCK)])


def _xxh64_bytes_block(items: list[bytes], seed: int) -> np.ndarray:
    n = len(items)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    lens = np.fromiter((len(b) for b in items), dtype=np.int64,
                       count=n)
    width = int(lens.max()) + 16   # 8B slack past any gather offset
    width += (-width) % 8
    padded = np.zeros((n, width), dtype=np.uint8)
    flat = np.frombuffer(b"".join(items), dtype=np.uint8)
    if len(flat):
        rows = np.repeat(np.arange(n), lens)
        cols = np.arange(len(flat)) - np.repeat(
            np.cumsum(lens) - lens, lens)
        padded[rows, cols] = flat
    return xxh64_padded(padded, lens, seed).view(np.int64)
