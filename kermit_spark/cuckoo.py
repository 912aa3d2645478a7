"""Partitioned cuckoo-filter URL-seen variant — the cuckoo codec; supports
deletion.

The north rule names "bloom/cuckoo URL-seen (cuckoo fallback for deletions)".
The engine's default is the Bloom set (bloom.py): the reference's
``UrlStore.reschedule`` flips status without un-seeing the URL
(/root/reference/src/kermit/QueueSystem.coffee:189-191), so nothing ever
needs deletion and Bloom's smaller/simpler bitset wins. This module provides
the cuckoo variant for deployments that DO evict (e.g. re-crawl policies that
age URLs out of the seen-set), picked with ``Frontier(seen_spec=CuckooSpec(...))``.
:class:`CuckooFilter` implements the same membership interface as
bloom.BloomFilter, so it rides the same Spark layer (seen.py), the same
partitioned-blob layout and the same prefilter contract (no false negatives
for present keys; exactness via anti-join).

Cuckoo blobs share the url_seen row layout with Bloom blobs: ``filter`` = the
bucket table bytes, ``m_bits`` = n_buckets, and ``k_hashes = 0`` as the
cuckoo marker (a Bloom filter always has k >= 1).

Standard cuckoo filter (Fan et al., CoNEXT'14, public): 4-slot buckets,
8-bit fingerprints, partial-key cuckoo hashing — bucket2 = bucket1 XOR
hash(fingerprint). All operations vectorized with numpy over Arrow batches.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

_EMPTY = 0  # fingerprints are 1..255; 0 marks an empty slot
_SLOTS = 4
_MAX_KICKS = 500
_MIN_BUCKETS = 32
# health rule: the seen set grows a filter before its slot load passes this.
# Inserts start failing near 95 % load; the smallest table (32 buckets)
# never failed below 88 % in 1,500 random fills, where 16 buckets failed
# at 75 % — hence the bucket floor
CUCKOO_MAX_LOAD = 0.85


@dataclass
class CuckooFilter:
    """Single-partition filter over int64 keys (url_hash values)."""

    n_buckets: int

    def __post_init__(self):
        # power-of-two buckets so the XOR trick stays in range
        n = _MIN_BUCKETS
        while n < self.n_buckets:
            n <<= 1
        self.n_buckets = n
        self.table = np.zeros((n, _SLOTS), dtype=np.uint8)
        self.n_items = 0

    # -- hashing -----------------------------------------------------------

    def _fingerprint(self, keys: np.ndarray) -> np.ndarray:
        fp = ((keys.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(56)).astype(np.uint8)
        return np.where(fp == _EMPTY, np.uint8(1), fp)

    def _bucket1(self, keys: np.ndarray) -> np.ndarray:
        return (keys.astype(np.uint64) % np.uint64(self.n_buckets)).astype(np.int64)

    def _alt_bucket(self, bucket: np.ndarray, fp: np.ndarray) -> np.ndarray:
        h = fp.astype(np.uint64) * np.uint64(0x5BD1E995)
        return ((bucket.astype(np.uint64) ^ h) % np.uint64(self.n_buckets)).astype(np.int64)

    # -- operations --------------------------------------------------------

    def _claim_empty_slots(self, buckets: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Vectorized bulk placement: write each fp into an empty slot of its
        bucket, one winner per (bucket, slot) per round (losers retry against
        the updated table — each round fills at least one contested slot, so
        the loop terminates). Returns the placed mask."""
        placed = np.zeros(len(buckets), dtype=bool)
        pending = np.arange(len(buckets))
        while len(pending):
            bb = buckets[pending]
            empties = self.table[bb] == _EMPTY  # (m, 4)
            has = empties.any(axis=1)
            if not has.any():
                break
            idx = pending[has]
            slot = empties[has].argmax(axis=1)
            key = bb[has] * _SLOTS + slot
            _, first = np.unique(key, return_index=True)
            winners, wslot = idx[first], slot[first]
            self.table[buckets[winners], wslot] = fps[winners]
            placed[winners] = True
            pending = idx[~np.isin(idx, winners)]
        return placed

    def insert(self, keys: np.ndarray) -> int:
        """Insert keys; returns number inserted (raises if the filter is too
        full to place a key after MAX_KICKS evictions). Bulk-vectorized:
        empty-slot placement in bucket1 then bucket2 handles ~everything at
        sane load factors; only keys finding both buckets full take the
        per-key cuckoo kick loop."""
        self._own()
        fps = self._fingerprint(keys)
        b1s = self._bucket1(keys)
        b2s = self._alt_bucket(b1s, fps)
        placed = self._claim_empty_slots(b1s, fps)
        rem = ~placed
        if rem.any():
            placed2 = self._claim_empty_slots(b2s[rem], fps[rem])
            placed[np.flatnonzero(rem)[placed2]] = True
        inserted = int(placed.sum())
        for i in np.flatnonzero(~placed):
            if self._insert_one(np.uint8(fps[i]), int(b1s[i])):
                inserted += 1
        self.n_items += inserted
        return inserted

    def _insert_one(self, fp: np.uint8, b1: int) -> bool:
        b2 = int(self._alt_bucket(np.array([b1]), np.array([fp]))[0])
        for b in (b1, b2):
            empty = np.where(self.table[b] == _EMPTY)[0]
            if len(empty):
                self.table[b, empty[0]] = fp
                return True
        # cuckoo eviction loop
        rng = np.random.default_rng(int(fp) * 2654435761 % (2**32))  # deterministic per fp
        b = b1
        for _ in range(_MAX_KICKS):
            slot = int(rng.integers(_SLOTS))
            fp, self.table[b, slot] = self.table[b, slot], fp
            b = int(self._alt_bucket(np.array([b]), np.array([fp]))[0])
            empty = np.where(self.table[b] == _EMPTY)[0]
            if len(empty):
                self.table[b, empty[0]] = fp
                return True
        raise RuntimeError("cuckoo filter full — resize required")

    def contains(self, keys: np.ndarray) -> np.ndarray:
        fps = self._fingerprint(keys)
        b1 = self._bucket1(keys)
        b2 = self._alt_bucket(b1, fps)
        in1 = (self.table[b1] == fps[:, None]).any(axis=1)
        in2 = (self.table[b2] == fps[:, None]).any(axis=1)
        return in1 | in2

    def _clear_matching_slots(self, buckets: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Vectorized bulk deletion: clear ONE slot matching fp per request,
        one winner per (bucket, slot) per round (losers retry — a second
        request for the same fp either finds another matching slot next
        round or drops out). Returns the cleared mask."""
        cleared = np.zeros(len(buckets), dtype=bool)
        pending = np.arange(len(buckets))
        while len(pending):
            bb = buckets[pending]
            matches = self.table[bb] == fps[pending][:, None]  # (m, 4)
            has = matches.any(axis=1)
            if not has.any():
                break
            idx = pending[has]
            slot = matches[has].argmax(axis=1)
            key = bb[has] * _SLOTS + slot
            _, first = np.unique(key, return_index=True)
            winners, wslot = idx[first], slot[first]
            self.table[buckets[winners], wslot] = _EMPTY
            cleared[winners] = True
            pending = idx[~np.isin(idx, winners)]
        return cleared

    def delete(self, keys: np.ndarray) -> int:
        """Remove one matching fingerprint per key; returns number removed.
        (Deleting a never-inserted key can evict a colliding entry — the
        standard cuckoo caveat; callers only delete keys they inserted.)
        Bulk-vectorized like insert: bucket1 pass, then bucket2 for the
        remainder."""
        self._own()
        fps = self._fingerprint(keys)
        b1s = self._bucket1(keys)
        b2s = self._alt_bucket(b1s, fps)
        cleared = self._clear_matching_slots(b1s, fps)
        rem = ~cleared
        if rem.any():
            cleared2 = self._clear_matching_slots(b2s[rem], fps[rem])
            cleared[np.flatnonzero(rem)[cleared2]] = True
        removed = int(cleared.sum())
        self.n_items -= removed
        return removed

    # -- url_seen codec (the membership interface seen.py is written to) ----

    @classmethod
    def decode(cls, buf: bytes, n_items: int, m_bits: int, k_hashes: int = 0) -> "CuckooFilter":
        """A url_seen row's filter; shares ``buf`` (read-only) until the
        first insert/delete copies it."""
        f = cls.__new__(cls)
        f.n_buckets, f.n_items = int(m_bits), int(n_items)
        f.table = np.frombuffer(buf, dtype=np.uint8).reshape(f.n_buckets, _SLOTS)
        return f

    def encode(self) -> tuple[bytes, int, int, int]:
        return self.table.tobytes(), self.n_items, self.n_buckets, 0

    def _own(self) -> None:
        if not self.table.flags.writeable:
            self.table = self.table.copy()

    @property
    def m_bits(self) -> int:  # the url_seen column this codec fills
        return self.n_buckets

    @staticmethod
    def capacity(m_bits: int) -> float:
        """Keys a table of m_bits (= n_buckets) takes before its slot load
        passes CUCKOO_MAX_LOAD."""
        return CUCKOO_MAX_LOAD * m_bits * _SLOTS

    def stats(self) -> dict:
        """Read from the n_items counter (O(1), no table scan):
        ``fill_ratio`` is the slot LOAD FACTOR, ``est_keys`` the occupied
        slots, ``est_fpp`` the structural bound 2·SLOTS/2^8 — a cuckoo's
        fp rate does not climb with fill the way a Bloom's does; inserts
        start failing instead (see CUCKOO_MAX_LOAD)."""
        slots = self.n_buckets * _SLOTS
        return {
            "n_items": self.n_items,
            "m_bits": self.n_buckets,
            "k_hashes": 0,
            "fill_ratio": self.n_items / slots,
            "est_keys": float(self.n_items),
            "est_fpp": 2.0 * _SLOTS / 256.0,
        }

    @staticmethod
    def saturated(stats: dict) -> bool:
        return stats["fill_ratio"] > CUCKOO_MAX_LOAD


@dataclass(frozen=True)
class CuckooSpec:
    """Buckets sized for the expected per-partition URL count at ~95% max
    load (4 slots/bucket)."""

    n_buckets: int = 1 << 17
    # a full table refuses inserts: the seen set checks room before a fold
    bounded = True

    @staticmethod
    def for_capacity(n_keys_per_partition: int) -> "CuckooSpec":
        return CuckooSpec(n_buckets=max(1 << 8, int(n_keys_per_partition / (_SLOTS * 0.95))))

    def new(self) -> CuckooFilter:
        return CuckooFilter(self.n_buckets)
