"""Bloom filter over int64 keys (numpy-vectorized, no per-row Python).

The URL-seen set's *correctness* path is always the exact anti-join
(`seen.py`); a Bloom filter only PRUNES candidates before the shuffle.
A candidate that passes the filter still goes through the anti-join,
so false positives cost nothing but a join row and false negatives
cannot occur (standard Bloom property).

Keys are 64-bit hashes computed JVM-side with ``F.xxhash64`` (two
independent seeds -> double hashing h1 + i*h2), so Python never hashes
strings; the filter operates on int64 numpy arrays only.

Scale note (10^10 URLs): one monolithic bloom at 1% fp needs ~12 GiB —
too big to broadcast. The engine therefore only uses these as the
SHARDS of `seen.SeenSet`: the seen set is hash-partitioned by url_hash,
each shard owns a filter over its keys, and candidates are routed by
the same partitioner so each task consults only its shard
(`SeenSet.partitioned_prefilter`, unit-tested at 8 shards in
tests/test_filters.py).
"""

from __future__ import annotations

import numpy as np


class BloomFilter:
    """Double-hashing Bloom filter over int64 keys, vectorized."""

    def __init__(self, n_items: int, fp_rate: float = 0.01):
        n_items = max(n_items, 1)
        m = int(-n_items * np.log(fp_rate) / (np.log(2) ** 2))
        self.m = max(64, m)
        self.k = max(1, int(round(self.m / n_items * np.log(2))))
        self.bits = np.zeros((self.m + 63) // 64, dtype=np.uint64)

    def _positions(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        # (len(h1), k) matrix of bit positions; h2 forced odd so the
        # double-hash probe sequence covers the table
        h1 = h1.astype(np.uint64)
        h2 = (h2.astype(np.uint64) | np.uint64(1))
        i = np.arange(self.k, dtype=np.uint64)
        return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(self.m)

    def add(self, h1: np.ndarray, h2: np.ndarray) -> None:
        if len(h1) == 0:
            return
        pos = self._positions(np.asarray(h1), np.asarray(h2)).ravel()
        np.bitwise_or.at(
            self.bits, (pos // 64).astype(np.int64),
            np.uint64(1) << (pos % np.uint64(64)),
        )

    def contains(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(np.asarray(h1), np.asarray(h2))
        word = self.bits[(pos // 64).astype(np.int64)]
        bit = (word >> (pos % np.uint64(64))) & np.uint64(1)
        return bit.all(axis=1)

    @property
    def capacity(self) -> int:
        """Approximate n_items this filter was sized for (inverts the
        standard sizing: n = m·ln2/k). Used by the engine's incremental
        maintenance to decide when folding deltas must give way to a
        resize-rebuild — past this load the fp rate exceeds the design
        point (still correct: fp only sends rows to the exact join)."""
        return max(1, int(self.m * np.log(2) / self.k))

    # -- (de)serialization for checkpointing alongside Iceberg snapshots --
    def to_bytes(self) -> bytes:
        header = np.array([self.m, self.k], dtype=np.int64).tobytes()
        return header + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes) -> "BloomFilter":
        m, k = np.frombuffer(raw[:16], dtype=np.int64)
        obj = cls.__new__(cls)
        obj.m, obj.k = int(m), int(k)
        obj.bits = np.frombuffer(raw[16:], dtype=np.uint64).copy()
        return obj

    def union(self, other: "BloomFilter") -> "BloomFilter":
        assert self.m == other.m and self.k == other.k
        out = BloomFilter.__new__(BloomFilter)
        out.m, out.k = self.m, self.k
        out.bits = self.bits | other.bits
        return out

