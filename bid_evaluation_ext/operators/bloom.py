"""Broadcast Bloom filter — map-side pre-filter for massively-asymmetric
semi-joins.

Beyond-reference operator (no counterpart in ``/root/reference``): at 100 TB
the dominant cost of "which train rows touch this small key set?" is the
shuffle that carries every train-side key to the join. When the small side
fits the driver (benchmark corpora, blocklists, eval sets), a Bloom filter of
~10 bits per key broadcasts to every executor and rejects non-matching rows
*before* the exchange — no false negatives, so any exact join/verify running
after the pre-filter keeps exact semantics, while false positives (rate
``fpp``) merely pass a few extra rows into it.

The filter is pure numpy (bit array + splitmix64 double hashing), so
membership tests inside Arrow-batched pandas UDFs are vectorized — one
``(k_hashes × batch)`` gather per batch, no per-row Python.
"""

from __future__ import annotations

import math
from typing import Iterable, Union

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

_GOLD = np.uint64(0x9E3779B97F4A7C15)
_ONE = np.uint64(1)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — decorrelates the raw 64-bit key into the two
    probe streams of classic double hashing (Kirsch–Mitzenmacher)."""
    x = x + _GOLD
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _as_u64(h) -> np.ndarray:
    """Signed 64-bit hashes (Spark ``xxhash64`` longs) viewed as uint64."""
    return np.ascontiguousarray(np.asarray(h, dtype=np.int64)).view(np.uint64)


class BroadcastBloom:
    """A picklable Bloom filter over 64-bit keys.

    ``bits`` is a uint64 word array of ``m_bits`` total bits; probes are
    ``h1 + i*h2 (mod m)`` for ``i < k_hashes`` — the standard double-hashing
    scheme whose false-positive rate matches k independent hash functions.
    """

    __slots__ = ("bits", "m_bits", "k_hashes", "n_items")

    def __init__(self, bits: np.ndarray, m_bits: int, k_hashes: int,
                 n_items: int) -> None:
        self.bits = bits
        self.m_bits = m_bits
        self.k_hashes = k_hashes
        self.n_items = n_items

    @classmethod
    def build(cls, hashes: Union[np.ndarray, Iterable[int]],
              fpp: float = 0.005) -> "BroadcastBloom":
        """Size for ``fpp`` at ``len(hashes)`` items: m = -n·ln(fpp)/ln²2
        bits (≈10 bits/key at 0.5%), k = (m/n)·ln2 probes."""
        h = _as_u64(hashes)
        n = max(1, len(h))
        m_bits = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
        m_bits = max(64, ((m_bits + 63) // 64) * 64)
        k_hashes = max(1, round((m_bits / n) * math.log(2)))
        bits = np.zeros(m_bits // 64, dtype=np.uint64)
        if len(h):
            h1 = _mix64(h)
            h2 = _mix64(h ^ _GOLD) | _ONE  # odd ⇒ full-period stride
            m = np.uint64(m_bits)
            for i in range(k_hashes):
                idx = (h1 + np.uint64(i) * h2) % m
                np.bitwise_or.at(bits, (idx >> np.uint64(6)).astype(np.int64),
                                 _ONE << (idx & np.uint64(63)))
        return cls(bits, m_bits, k_hashes, len(h))

    def might_contain(self, hashes) -> np.ndarray:
        """Vectorized membership: bool mask, no false negatives."""
        h = _as_u64(hashes)
        if not len(h):
            return np.zeros(0, dtype=bool)
        h1 = _mix64(h)
        h2 = _mix64(h ^ _GOLD) | _ONE
        m = np.uint64(self.m_bits)
        out = np.ones(len(h), dtype=bool)
        for i in range(self.k_hashes):
            idx = (h1 + np.uint64(i) * h2) % m
            word = self.bits[(idx >> np.uint64(6)).astype(np.int64)]
            out &= ((word >> (idx & np.uint64(63))) & _ONE) != 0
        return out


def bloom_from_hash_column(df: DataFrame, col: str,
                           fpp: float = 0.005) -> BroadcastBloom:
    """Build a filter from a DataFrame's 64-bit hash column (distinct). The
    column must be driver-sized by contract — eval corpora, blocklists.
    Null hashes are dropped: a null key can never equi-join, and pandas
    would otherwise promote the collected column to float64/NaN and make
    the int64 view below raise."""
    pdf = (
        df.filter(F.col(col).isNotNull())
        .select(F.col(col).alias("_h")).distinct().toPandas()
    )
    return BroadcastBloom.build(pdf["_h"].to_numpy(dtype=np.int64), fpp)


def bloom_keep_array(df: DataFrame, arr_col: Column,
                     bloom: BroadcastBloom) -> Column:
    """Column expression keeping only the elements of an ``array<long>``
    column that might be in ``bloom`` — the map-side shrink applied before an
    explode feeds a shuffle. Broadcast once per session via the SparkContext
    (shipping the bit array with every task would defeat the point)."""
    bc = df.sparkSession.sparkContext.broadcast(bloom)

    @F.pandas_udf("array<long>")
    def _keep(arrs: pd.Series) -> pd.Series:
        b = bc.value
        vals = arrs.tolist()
        lens = [0 if a is None else len(a) for a in vals]
        if not any(lens):
            return pd.Series([[] for _ in vals])
        flat = np.concatenate([np.asarray(a, dtype=np.int64)
                               for a in vals if a is not None and len(a)])
        mask = b.might_contain(flat)
        out, pos = [], 0
        for n, a in zip(lens, vals):
            if n == 0:
                out.append([])
                continue
            seg, mk = flat[pos:pos + n], mask[pos:pos + n]
            pos += n
            out.append(seg[mk].tolist())
        return pd.Series(out)

    return _keep(arr_col)


def bloom_semi_filter(df: DataFrame, col: str,
                      bloom: BroadcastBloom) -> DataFrame:
    """Rows whose 64-bit hash column might be in ``bloom`` — the scalar twin
    of :func:`bloom_keep_array` for pre-filtering an event/row stream ahead
    of an exact (anti-/semi-) join against a small key set."""
    bc = df.sparkSession.sparkContext.broadcast(bloom)

    @F.pandas_udf("boolean")
    def _hit(h: pd.Series) -> pd.Series:
        b = bc.value
        if not h.hasnans:  # fast path: one vectorized probe, zero Python
            return pd.Series(b.might_contain(h.to_numpy(dtype=np.int64)))
        ok = h.notna().to_numpy()
        out = np.zeros(len(h), dtype=bool)
        if ok.any():
            # tolist() keeps exact int64 values (no float64 round-trip)
            vals = np.asarray(h[ok].tolist(), dtype=np.int64)
            out[ok] = b.might_contain(vals)
        return pd.Series(out)

    return df.filter(_hit(F.col(col)))
