"""Partitioned Bloom-filter URL-seen set — the Bloom codec.

Replaces the reference's O(1) dedup-on-insert (nedb unique index on ``url``,
/root/reference/src/kermit/QueueSystem.coffee:162,194-201) with the structure
the north rule names: a **partitioned Bloom filter keyed on canonicalized URL
hashes**, one bitset per host-salt partition, persisted as binary blobs in the
``url_seen`` table.

Role at 10^10-frontier scale (SURVEY §4.2): the Bloom set is a *shuffle
reduction prefilter*, never membership truth. Discovered links that the
partition's filter rejects are **definitely new** (no false negatives) and
skip the exact anti-join entirely; only the "maybe seen" remainder — a few
percent at fpp≈1% — is shuffled into the anti-join against the frontier
partition. Exactness always comes from the anti-join, so a false positive can
never silently drop a URL and diverge the URL-seen set from the reference
closure (the hard correctness constraint flagged in SURVEY §7).

This module is the numpy side only: the spec, the double-hashing kernels
(h1 + i*h2 mod m, Kirsch–Mitzenmacher — k probe positions from the 64-bit
url_hash without rehashing strings) and :class:`BloomFilter`, one
partition's bitset behind the membership interface the Spark layer
(seen.py) is written against. ``Frontier(seen_spec=BloomSpec(...))`` picks
it — the default. ``seen_spec=CuckooSpec(...)`` (cuckoo.py) picks the
deletable variant for re-crawl/eviction policies (``Frontier.evict``). The
reference never needs deletions — UrlStore.reschedule flips status, the URL
stays *seen* (QueueSystem.coffee:189-191) — so Bloom's smaller no-delete
bitset remains the default.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

# saturation guard: a fixed-m Bloom silently degrades as waves OR more keys
# in (fpp = fill^k keeps climbing); past this MEASURED per-blob fpp the
# seen set grows and rebuilds (seen.SeenSet._grow)
BLOOM_MAX_FPP = 0.02


@dataclass(frozen=True)
class BloomSpec:
    """m sized for the *expected per-partition* URL count: bits_per_key=10,
    k=7 gives fpp ≈ 0.8%."""

    m_bits: int = 1 << 20
    k_hashes: int = 7
    # bitsets never refuse an insert: saturation shows as fpp, not failure
    bounded = False

    @staticmethod
    def for_capacity(n_keys_per_partition: int, bits_per_key: int = 10) -> "BloomSpec":
        # m is rounded UP to a byte multiple: blob buffers hold m >> 3
        # bytes, so a non-multiple-of-8 m would let probe positions in the
        # last partial byte index past the buffer (auto-grow computes
        # ceil(peak × growth), which lands on odd values whenever the
        # float cardinality estimate exceeds the exact count)
        m = max(1 << 10, -(-int(n_keys_per_partition) * bits_per_key // 8) * 8)
        return BloomSpec(m_bits=m, k_hashes=7)

    def new(self) -> "BloomFilter":
        return BloomFilter(np.zeros(self.m_bits >> 3, dtype=np.uint8), self.m_bits, self.k_hashes)


def _popcount(bits: np.ndarray) -> int:
    """Set-bit count of a uint8 buffer (numpy>=2 bitwise_count; unpackbits
    fallback keeps numpy 1.x working)."""
    bc = getattr(np, "bitwise_count", None)
    if bc is not None:
        return int(bc(bits).sum())
    return int(np.unpackbits(bits).sum())


def _probe_positions(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) probe bit positions via double hashing on the uint64 key."""
    h = hashes.astype(np.uint64)
    h1 = h
    # odd multiplier keeps h2 well distributed; force h2 odd so strides cover
    h2 = (h * np.uint64(0x9E3779B97F4A7C15) >> np.uint64(17)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """True where ALL k probes are set (maybe-seen)."""
    probes = (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return probes.all(axis=1)


class BloomFilter:
    """One partition's bitset. Decoded blobs share the collected buffer
    (read-only); the first insert copies it."""

    def __init__(self, bits: np.ndarray, m_bits: int, k_hashes: int, n_items: int = 0):
        self.bits, self.m_bits, self.k_hashes = bits, int(m_bits), int(k_hashes)
        self.n_items = int(n_items)

    @classmethod
    def decode(cls, buf: bytes, n_items: int, m_bits: int, k_hashes: int) -> "BloomFilter":
        return cls(np.frombuffer(buf, dtype=np.uint8), m_bits, k_hashes, n_items)

    def encode(self) -> tuple[bytes, int, int, int]:
        """(filter, n_items, m_bits, k_hashes) — a url_seen row minus p."""
        return self.bits.tobytes(), self.n_items, self.m_bits, self.k_hashes

    def insert(self, keys: np.ndarray) -> None:
        if not len(keys):
            return
        if not self.bits.flags.writeable:
            self.bits = self.bits.copy()
        _set_bits(self.bits, _probe_positions(keys, self.m_bits, self.k_hashes))
        self.n_items += len(keys)

    def contains(self, keys: np.ndarray) -> np.ndarray:
        return _test_bits(self.bits, _probe_positions(keys, self.m_bits, self.k_hashes))

    @staticmethod
    def capacity(m_bits: int) -> float:
        """Keys a blob of m bits takes before inserts fail: never."""
        return math.inf

    def stats(self) -> dict:
        """Saturation stats. ``est_keys`` inverts the expected-fill curve
        E[fill] = 1-(1-1/m)^(kn) ≈ 1-e^(-kn/m)  ⇒  n ≈ -(m/k)·ln(1-fill)
        (standard Bloom cardinality estimate — Swamidass & Baldi 2007);
        ``est_fpp`` = fill^k, the *actual* false-positive rate of the blob
        as built, which keeps climbing as merges OR more keys into a fixed
        m."""
        m, k = self.m_bits, self.k_hashes
        fill = _popcount(self.bits) / m if m else 0.0
        if 0.0 < fill < 1.0:
            est_keys = -(m / k) * float(np.log1p(-fill))
        else:
            est_keys = 0.0 if fill == 0.0 else float("inf")
        return {
            "n_items": self.n_items,
            "m_bits": m,
            "k_hashes": k,
            "fill_ratio": fill,
            "est_keys": est_keys,
            "est_fpp": fill**k if k else 1.0,
        }

    @staticmethod
    def saturated(stats: dict) -> bool:
        return stats["est_fpp"] > BLOOM_MAX_FPP
