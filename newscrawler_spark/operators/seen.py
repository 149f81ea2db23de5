"""URL-seen set: exact anti-join, prefiltered by one broadcast bloom.

The reference's seen set is a per-row ``SELECT ... WHERE url = :url``
before INSERT (``src/cli.py:72-77``) backed by a UNIQUE index
(``init-schema.sql:8``).  The Spark translation is one design:

  1. a **bloom filter** over the seen ``url_hash`` values, built
     map-side (one partial bitset per partition, OR-ed on the driver)
     and broadcast to prefilter the frontier — bloom *negatives* are
     definitely new and skip the join entirely;
  2. an **exact left-anti join** on ``(url_hash, url)`` for the bloom
     *positives* only.  The join keys include the full URL string, so a
     60-bit hash collision can never drop a URL — the hash exists to
     make the bloom and the shuffle cheap, the anti-join is the truth.

Scale note: the bitset is ~1.8 GB per 10^9 seen keys at fpp 1e-3.
Partitioning it (one bloom per ``pmod(url_hash, B)`` bucket, built and
applied on the executors) should return only with a workload whose
bitset exceeds what the driver can build and broadcast; below that the
single broadcast bitset is as fast and simpler.

Equivalence contract: ``anti_join_seen(f, s, bloom=b) ≡ f.join(s, keys,
"left_anti")`` for every input and every bloom that holds ``s``'s
hashes — tested bloom-on vs bloom-off.  A bloom read under a geometry
(m, k) other than the one it was built with returns false NEGATIVES,
which this design cannot recover from; persisted bitsets must therefore
be keyed by their geometry (see ``FrontierCrawler._seen_bloom``).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)
_MIX = np.uint64(0x9E3779B97F4A7C15)


class NumpyBloom:
    """Vectorized bloom filter over int64 hashes (numpy bitset).

    Double hashing: probe_i = (h1 + i*h2) mod m, h2 odd — standard
    Kirsch-Mitzenmacher construction, entirely ufunc-vectorized so the
    pandas-UDF prefilter costs O(batch) numpy ops, not per-row Python.
    """

    def __init__(self, expected: int, fpp: float = 1e-3, words: np.ndarray | None = None):
        expected = max(expected, 16)
        m = int(-expected * math.log(fpp) / (math.log(2) ** 2))
        self.m = ((m + 63) // 64) * 64
        self.k = max(1, round(self.m / expected * math.log(2)))
        self.words = (
            words if words is not None else np.zeros(self.m // 64, dtype=np.uint64)
        )

    @property
    def geometry(self) -> str:
        """``m{m}k{k}`` — the key under which a persisted bitset is valid."""
        return f"m{self.m}k{self.k}"

    def _probes(self, hashes: np.ndarray) -> Iterator[np.ndarray]:
        h1 = hashes.astype(np.int64).view(np.uint64)
        h2 = ((h1 * _MIX) & _MASK64) | np.uint64(1)
        for i in range(self.k):
            yield ((h1 + np.uint64(i) * h2) % np.uint64(self.m)).astype(np.uint64)

    def add(self, hashes: np.ndarray) -> None:
        for idx in self._probes(hashes):
            np.bitwise_or.at(self.words, (idx >> np.uint64(6)).astype(np.int64),
                             np.uint64(1) << (idx & np.uint64(63)))

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        out = np.ones(len(hashes), dtype=bool)
        for idx in self._probes(hashes):
            word = self.words[(idx >> np.uint64(6)).astype(np.int64)]
            out &= ((word >> (idx & np.uint64(63))) & np.uint64(1)).astype(bool)
        return out

    def union(self, other: "NumpyBloom") -> None:
        assert self.m == other.m and self.k == other.k
        self.words |= other.words

    @classmethod
    def from_state(cls, words: np.ndarray, m: int, k: int) -> "NumpyBloom":
        obj = object.__new__(cls)
        obj.words, obj.m, obj.k = words, m, k
        return obj


def build_bloom(seen: DataFrame, hash_col: str, expected: int, fpp: float = 1e-3) -> NumpyBloom:
    """Build a bloom over ``seen[hash_col]`` map-side.

    Each partition emits one serialized partial bitset (mapInPandas);
    the driver ORs them — the full hash set never moves to the driver,
    only ~m/8 bytes per partition.
    """
    proto = NumpyBloom(expected, fpp)
    m, k = proto.m, proto.k

    def partial(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bloom = NumpyBloom(expected, fpp)
        assert bloom.m == m and bloom.k == k
        nonempty = False
        for pdf in it:
            h = pdf[hash_col].to_numpy(dtype=np.int64)
            if len(h):
                bloom.add(h)
                nonempty = True
        if nonempty:
            yield pd.DataFrame({"bits": [bloom.words.tobytes()]})

    parts = seen.select(hash_col).mapInPandas(partial, schema="bits binary").collect()
    for row in parts:
        proto.words |= np.frombuffer(row["bits"], dtype=np.uint64)
    return proto


def anti_join_seen(
    frontier: DataFrame,
    seen: DataFrame,
    url_col: str = "canon_url",
    hash_col: str = "url_hash",
    bloom: NumpyBloom | None = None,
) -> DataFrame:
    """Rows of ``frontier`` whose (hash, url) is absent from ``seen``.

    With a bloom: each row is tagged ``__maybe_seen`` map-side against
    the broadcast bitset; negatives bypass the join (a bloom has no
    false negatives), positives take the exact anti-join.  Without:
    plain left-anti (the correctness baseline).
    """
    seen_keys = seen.select(hash_col, url_col).dropDuplicates([hash_col, url_col])
    if bloom is None:
        return frontier.join(seen_keys, on=[hash_col, url_col], how="left_anti")

    bc = frontier.sparkSession.sparkContext.broadcast((bloom.words, bloom.m, bloom.k))

    def prefilter(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bloom_local = NumpyBloom.from_state(*bc.value)
        for pdf in it:
            h = pdf[hash_col].to_numpy(dtype=np.int64)
            pdf = pdf.copy()
            pdf["__maybe_seen"] = bloom_local.might_contain(h)
            yield pdf

    out_schema = T.StructType(
        list(frontier.schema.fields) + [T.StructField("__maybe_seen", T.BooleanType())]
    )
    tagged = frontier.mapInPandas(prefilter, schema=out_schema)
    definitely_new = tagged.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
    maybe = tagged.filter(F.col("__maybe_seen")).drop("__maybe_seen")
    survivors = maybe.join(seen_keys, on=[hash_col, url_col], how="left_anti")
    return definitely_new.unionByName(survivors)
