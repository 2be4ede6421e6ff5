"""Absent-term bloom sidecar — the term-dictionary scale posture.

The reference resolves every query term through a BST in a loaded chunk
(wasm/bst.c), always O(log) local work. Our term dictionary is the
term_stats parquet table; ``warm()`` can pin it on the driver up to ~2M
terms, but a 10^9-term corpus cannot ship its dictionary to the driver and
without it every NOVEL term would cost one Spark term_stats job just to
learn it does not exist.

This sidecar makes absent-term checks driver-local at any dictionary size:

  * terms are hash-partitioned into ranges of ~2^16 terms; each range gets
    one bloom filter row (12 bits/term, k=7 → ~0.4% false-positive rate);
  * the sidecar is O(n_terms · 12 bits) TOTAL but loaded per row — a driver
    fetches a range's row on the first probe of that range into a bounded
    LRU (rows are independent; a probe needs exactly ONE row). The fetch
    is a driver-local key-range read (``localread.LocalTable``) — the
    sidecar is written range_id-sorted so parquet row-group stats prune it
    — and costs zero Spark jobs;
  * probe says "definitely absent" (skip the lookup job entirely — the
    overwhelmingly common case for typo/OOV terms) or "maybe present"
    (fall through to the normal term_stats pushdown scan). No false
    negatives by construction, so results are bit-identical.

Build side is one groupBy(range_id) over the term_stats table —
applyInPandas computes each range's bit array; probe side is two md5-derived
hashes + k = 7 double-hashed positions (Kirsch–Mitzenmacher composition is
fine for Bloom membership, unlike for MinHash sketches).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession

BITS_PER_TERM = 12
BLOOM_K = 7
RANGE_TERMS = 1 << 16  # terms per bloom row
M_BITS = BITS_PER_TERM * RANGE_TERMS  # fixed row size: 96 KiB of bits


def term_range_id(term: str, n_ranges: int) -> int:
    """Range routing hash — bytes 12..16 of md5 (disjoint from the probe
    hashes' bytes 0..8)."""
    d = hashlib.md5(term.encode("utf-8")).digest()
    return int.from_bytes(d[12:16], "big") % n_ranges


def _positions(term: str) -> np.ndarray:
    d = hashlib.md5(term.encode("utf-8")).digest()
    h1 = int.from_bytes(d[0:4], "big")
    h2 = int.from_bytes(d[4:8], "big") | 1
    return (h1 + np.arange(BLOOM_K, dtype=np.uint64) * np.uint64(h2)) % np.uint64(M_BITS)


def build_term_bloom(spark: SparkSession, term_stats: DataFrame, out_path: str,
                     n_terms: int) -> int:
    """Write the sidecar: one row per range (range_id, n_ranges, bits).
    Distributed: range assignment is a JVM md5 expression, bit arrays are
    built per range in applyInPandas (each group ≈ 2^16 terms)."""
    import pandas as pd
    from pyspark.sql import functions as F

    n_ranges = max(1, -(-n_terms // RANGE_TERMS))
    karr = np.arange(BLOOM_K, dtype=np.uint64)[None, :]

    def make_bloom(pdf: pd.DataFrame) -> pd.DataFrame:
        # fully vectorized: h1/h2 arrive as JVM-computed md5 windows, so no
        # per-term Python hashing (the stage was hash-bound before)
        h1 = pdf["h1"].to_numpy().astype(np.uint64)
        h2 = pdf["h2"].to_numpy().astype(np.uint64) | np.uint64(1)
        pos = (h1[:, None] + karr * h2[:, None]) % np.uint64(M_BITS)
        bits = np.zeros(M_BITS // 8, dtype=np.uint8)
        np.bitwise_or.at(bits, (pos >> np.uint64(3)).ravel(),
                         (1 << (pos & np.uint64(7))).astype(np.uint8).ravel())
        return pd.DataFrame({
            "range_id": [int(pdf["rid"].iloc[0])],
            "n_ranges": [n_ranges],
            "bits": [bits.tobytes()],
        })

    # JVM md5 windows must equal the driver probe's (_positions /
    # term_range_id): hex chars 1-8 = digest bytes 0:4 (h1), chars 9-16 =
    # bytes 4:8 (h2), chars 25-32 = bytes 12:16 (range id).
    # term_stats is unique per term within one build (groupBy output), so no
    # distinct — duplicate inserts would be idempotent for a bloom anyway.
    md5 = F.md5(F.col("term"))
    (
        term_stats.select(
            (F.conv(F.substring(md5, 25, 8), 16, 10).cast("long") % n_ranges).alias("rid"),
            F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("h2"),
        )
        .groupBy("rid")
        .applyInPandas(make_bloom, "range_id long, n_ranges long, bits binary")
        # range_id-sorted files ⇒ parquet row-group min/max stats make the
        # lazy per-range fetch a pruned point read, not a sidecar scan
        .repartitionByRange(max(1, n_ranges // 512), "range_id")
        .sortWithinPartitions("range_id")
        .write.mode("overwrite").parquet(out_path)
    )
    return n_ranges


class TermBloom:
    """Driver-side probe over one index's sidecar rows.

    ``loader(range_id) -> bytes | None`` fetches a range's row on the first
    probe of that range (None: no terms hashed to it ⇒ definitely absent);
    ``max_cached_rows`` bounds the LRU (96 KiB/row), so a 10^9-term
    dictionary (~15k ranges, 1.4 GB) costs the driver only the hot ranges.
    ``rows_fetched`` counts loader calls (test-asserted: ≤1 per novel
    range, 0 on re-probe of a cached range)."""

    def __init__(self, n_ranges: int, loader, max_cached_rows: int | None = None):
        from collections import OrderedDict

        self.n_ranges = int(n_ranges)
        self._bits: "OrderedDict[int, np.ndarray | None]" = OrderedDict()
        self._loader = loader
        self._max = max_cached_rows
        self.rows_fetched = 0

    def _range_bits(self, rid: int) -> np.ndarray | None:
        if rid in self._bits:
            self._bits.move_to_end(rid)
            return self._bits[rid]
        raw = self._loader(rid)
        self.rows_fetched += 1
        bits = None if raw is None else np.frombuffer(raw, dtype=np.uint8)
        self._bits[rid] = bits  # negative result cached too
        if self._max is not None:
            while len(self._bits) > self._max:
                self._bits.popitem(last=False)
        return bits

    def definitely_absent(self, term: str) -> bool:
        bits = self._range_bits(term_range_id(term, self.n_ranges))
        if bits is None:
            return True  # no terms hashed to this range at all
        pos = _positions(term)
        return not bool(np.all(bits[pos >> np.uint64(3)] & (1 << (pos & np.uint64(7))).astype(np.uint8)))


def load_term_bloom(spark: SparkSession, index_dir: str,
                    max_cached_rows: int = 1024) -> TermBloom | None:
    """Open the sidecar with ZERO Spark jobs (driver-local reads — the
    probe is a control-plane structure, same posture as the reference
    worker reading its own chunk metadata). Rows load per range on first
    probe into an LRU of ``max_cached_rows``. None when the sidecar is
    absent (pre-bloom index) or unreachable — callers fall back to the
    term_stats scan."""
    from pyspark.errors import PySparkException

    from .localread import LocalTable

    path = os.path.join(index_dir, "term_bloom") if "://" not in index_dir \
        else index_dir.rstrip("/") + "/term_bloom"
    try:
        table = LocalTable([path], spark)
        n_ranges = table.first("n_ranges")
    except (OSError, PySparkException):
        # the bloom is an optional accelerator: an unreachable store
        # degrades to the term_stats fallback instead of failing the query
        return None
    if n_ranges is None:
        return None

    def loader(rid: int):
        t = table.read(["bits"], "range_id", rid, rid + 1)
        return t["bits"][0].as_py() if t.num_rows else None

    return TermBloom(n_ranges, loader, max_cached_rows)
