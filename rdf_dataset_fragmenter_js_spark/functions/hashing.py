"""Bit-exact hash functions required for parity with the reference.

The reference uses two JS hash libraries whose outputs are observable in its
results (fragment IRIs, deterministic sampling, Bloom bitfields):

* ``imurmurhash`` — MurmurHash3 x86 32-bit over JS string code units
  (``lib/quadmatcher/QuadMatcherTermValue.ts:26``,
  ``lib/summary/DatasetSummaryVoID.ts:180-182``,
  ``lib/summary/DatasetSummaryBloom.ts:159-165``).
* ``bloem``'s FNV-1a based double hashing for Bloom filters
  (``lib/summary/DatasetSummaryBloom.ts:149-152``).

Spark's builtin ``hash()`` is Murmur3 with a different seed/finalization and
``xxhash64`` is different entirely, so these are implemented here exactly and
exposed as vectorized pandas UDFs. For pure-ASCII input (all reference
fixtures) ``imurmurhash`` coincides with standard MurmurHash3 x86-32 seed 0;
the implementation below follows the JS char-code algorithm so non-ASCII
behaves identically to the reference too.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType

_MASK32 = 0xFFFFFFFF

#: JS ``Number.MAX_SAFE_INTEGER >>> 0`` — the constant the reference divides
#: by for probability sampling (QuadMatcherTermValue.ts:6). Note: this is 1,
#: NOT 2^32-1: (2^53-1) >>> 0 keeps the low 32 bits = 0xFFFFFFFF... actually
#: (2**53-1) & 0xFFFFFFFF == 0xFFFFFFFF. So it IS 4294967295.
MURMURHASH3_MAX_VALUE = (2**53 - 1) & _MASK32  # 4294967295


def _mul32(a: int, b: int) -> int:
    """32-bit overflow multiply (matches the JS split-multiply trick)."""
    return (a * b) & _MASK32


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _MASK32


def imurmurhash(text: str) -> int:
    """MurmurHash3 x86 32-bit over JS UTF-16 code units, seed 0.

    Faithful to the ``imurmurhash`` npm package's byte-packing, which XORs
    code units into little-endian 4-byte blocks (for ASCII this equals
    standard MurmurHash3 over the ASCII bytes). Input is hashed as UTF-16
    code units (JS ``charCodeAt``) — astral codepoints contribute their two
    surrogates, exactly like a JS string.
    """
    codes = np.frombuffer(text.encode("utf-16-le"), dtype="<u2").tolist()
    n = len(codes)
    h1 = 0
    nblocks = n >> 2
    for i in range(nblocks):
        j = i * 4
        k1 = (
            (codes[j] & 0xFFFF)
            ^ ((codes[j + 1] & 0xFFFF) << 8)
            ^ ((codes[j + 2] & 0xFFFF) << 16)
            ^ ((codes[j + 3] & 0xFF) << 24)
            ^ ((codes[j + 3] & 0xFF00) >> 8)
        ) & _MASK32
        k1 = _mul32(k1, 0xCC9E2D51)
        k1 = _rotl32(k1, 15)
        k1 = _mul32(k1, 0x1B873593)
        h1 ^= k1
        h1 = _rotl32(h1, 13)
        h1 = (_mul32(h1, 5) + 0xE6546B64) & _MASK32

    # tail
    k1 = 0
    rem = n & 3
    base = nblocks * 4
    if rem == 3:
        k1 ^= (codes[base + 2] & 0xFFFF) << 16
    if rem >= 2:
        k1 ^= (codes[base + 1] & 0xFFFF) << 8
    if rem >= 1:
        k1 ^= codes[base] & 0xFFFF
    k1 &= _MASK32
    if k1 > 0:
        k1 = _mul32(k1, 0xCC9E2D51)
        k1 = _rotl32(k1, 15)
        k1 = _mul32(k1, 0x1B873593)
        h1 ^= k1

    h1 ^= n
    h1 ^= h1 >> 16
    h1 = _mul32(h1, 0x85EBCA6B)
    h1 ^= h1 >> 13
    h1 = _mul32(h1, 0xC2B2AE35)
    h1 ^= h1 >> 16
    return h1 & _MASK32


def imurmurhash_hex(text: str) -> str:
    """Base-16 string of the hash — the reference's fragment-IRI encoding
    (``DatasetSummaryVoID.ts:180-182`` ``.result().toString(16)``)."""
    return format(imurmurhash(text), "x")


# ---------------------------------------------------------------------------
# bloem-compatible FNV double hashing (npm `bloem` → `fnv-plus`)
# ---------------------------------------------------------------------------

_FNV_OFFSET_32 = 0x811C9DC5
_FNV_PRIME_32 = 0x01000193


def _fnv1a32(data: bytes, seed: int = _FNV_OFFSET_32) -> int:
    h = seed
    for b in data:
        h ^= b
        h = (h * _FNV_PRIME_32) & _MASK32
    return h


def bloem_bit_indexes(value: bytes, size_bits: int, slices: int) -> list[int]:
    """Bit positions `bloem` sets for *value* in an m-bit, k-slice filter.

    Reconstruction of the public npm ``bloem`` package: two seeded 32-bit
    FNV-1a hashes — ``h1 = fnv1a(b'S' + data)``, ``h2 = fnv1a(b'W' + data)``
    (the package streams the seed buffer then the key through the ``fnv``
    module, whose shift-based multiply equals FNV-1a mod 2^32) — combined
    Kirsch-Mitzenmacher style: ``g_i = (h1 + i*h2) mod m``. Bit layout is
    LSB-first within each byte (``bitbuffer``: ``buf[i>>3] |= 1 << (i&7)``).

    The reference's own unit tests only assert round-trip membership
    (``test/unit/summary/DatasetSummaryBloom-test.ts:29-47``), which our
    filters satisfy by construction; byte-level parity follows this
    reconstruction of bloem's hashing.
    """
    h1 = _fnv1a32(b"S" + value)
    h2 = _fnv1a32(b"W" + value)
    return [(h1 + i * h2) % size_bits for i in range(slices)]


def bloem_bitfield(values: list[bytes], size_bits: int, slices: int) -> bytes:
    """Build the bloem-layout bitfield for a set of member values."""
    buf = bytearray((size_bits + 7) // 8)  # ceil: bit m-1 must have a byte
    for v in values:
        for idx in bloem_bit_indexes(v, size_bits, slices):
            buf[idx >> 3] |= 1 << (idx & 7)
    return bytes(buf)


def bloem_has(bitfield: bytes, value: bytes, size_bits: int, slices: int) -> bool:
    return all(
        bitfield[i >> 3] & (1 << (i & 7)) for i in bloem_bit_indexes(value, size_bits, slices)
    )


# ---------------------------------------------------------------------------
# Vectorized pandas UDFs (Arrow-batched; no per-row Python in the hot path)
# ---------------------------------------------------------------------------
#
# The murmur rounds are numpy-vectorized across the whole Arrow batch: all
# strings are UTF-16-encoded in ONE C call, viewed as a uint16 code-unit
# matrix, and the 4-unit block mixing loops over *rounds* (max_len/4 numpy
# passes over the batch), not rows. Work is also deduplicated per batch
# (pd.factorize) — QuadMatcherTermValue hashes the same extracted group for
# every quad of a resource, so hashing distinct values only cuts the Python
# work by the duplication factor without any extra shuffle.

_M32 = np.uint64(0xFFFFFFFF)


def imurmurhash_batch(strs: list[str]) -> np.ndarray:
    """Vectorized :func:`imurmurhash` over a batch → uint32 ndarray.

    Identical output to the scalar path (property-tested); arithmetic runs
    in masked uint64 so 32-bit wraparound is explicit and numpy-version
    independent."""
    n_strs = len(strs)
    if n_strs == 0:
        return np.empty(0, dtype=np.uint32)
    big = "".join(strs)
    codes = np.frombuffer(big.encode("utf-16-le"), dtype="<u2").astype(np.uint64)
    if len(codes) == sum(map(len, strs)):
        # no astral codepoints: UTF-16 unit count == codepoint count
        lens = np.fromiter(map(len, strs), dtype=np.int64, count=n_strs)
    else:
        lens = np.fromiter(
            (len(s.encode("utf-16-le")) >> 1 for s in strs), dtype=np.int64, count=n_strs
        )
    starts = np.zeros(n_strs, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])

    h1 = np.zeros(n_strs, dtype=np.uint64)
    nblocks = lens >> 2
    maxb = int(nblocks.max()) if n_strs else 0
    for i in range(maxb):
        active = np.nonzero(nblocks > i)[0]
        idx = starts[active] + 4 * i
        c0, c1, c2, c3 = codes[idx], codes[idx + 1], codes[idx + 2], codes[idx + 3]
        k1 = (c0 ^ (c1 << 8) ^ (c2 << 16) ^ ((c3 & 0xFF) << 24) ^ ((c3 & 0xFF00) >> 8)) & _M32
        k1 = (k1 * 0xCC9E2D51) & _M32
        k1 = ((k1 << 15) | (k1 >> 17)) & _M32
        k1 = (k1 * 0x1B873593) & _M32
        h = h1[active] ^ k1
        h = ((h << 13) | (h >> 19)) & _M32
        h1[active] = (h * 5 + 0xE6546B64) & _M32

    # tail (rem 1-3 code units)
    rem = lens & 3
    base = starts + 4 * nblocks
    k1 = np.zeros(n_strs, dtype=np.uint64)
    m3, m2, m1 = rem == 3, rem >= 2, rem >= 1
    if m3.any():
        k1[m3] ^= codes[base[m3] + 2] << 16
    if m2.any():
        k1[m2] ^= codes[base[m2] + 1] << 8
    if m1.any():
        k1[m1] ^= codes[base[m1]]
    k1 &= _M32
    pos = k1 > 0
    if pos.any():
        kp = (k1[pos] * 0xCC9E2D51) & _M32
        kp = ((kp << 15) | (kp >> 17)) & _M32
        kp = (kp * 0x1B873593) & _M32
        h1[pos] ^= kp

    h1 ^= lens.astype(np.uint64)
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return (h1 & _M32).astype(np.uint32)


def _batch_unique_hashes(s: pd.Series):
    """(row→unique index, uint32 hash per unique, NA mask) for one batch."""
    mask_na = s.isna().to_numpy()
    vals = s.to_numpy(dtype=object)
    vals = np.where(mask_na, "", vals)  # placeholder; masked out below
    idx, uniques = pd.factorize(vals, sort=False)
    hashes = imurmurhash_batch(list(uniques))
    return idx, hashes, mask_na


def _imurmur_series(s: pd.Series) -> pd.Series:
    idx, hashes, mask_na = _batch_unique_hashes(s)
    out = hashes.astype(np.int64)[idx]
    return pd.Series(pd.arrays.IntegerArray(out, mask_na))


def murmur_udf() -> Column:
    """Factory for the pandas UDF column function (lazily created so importing
    this module does not require an active SparkSession)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(LongType())
    def _udf(s: pd.Series) -> pd.Series:
        return _imurmur_series(s)

    return _udf


def murmur_col(col: Column) -> Column:
    return murmur_udf()(col)


def murmur_prob_col(col: Column) -> Column:
    """hash(value) / MURMURHASH3_MAX_VALUE — the reference's deterministic
    sampling score (QuadMatcherTermValue.ts:26-28)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(DoubleType())
    def _udf(s: pd.Series) -> pd.Series:
        idx, hashes, mask_na = _batch_unique_hashes(s)
        out = (hashes.astype(np.float64) / MURMURHASH3_MAX_VALUE)[idx]
        out[mask_na] = np.nan
        return pd.Series(out)

    return _udf(col)


def murmur_hex_col(col: Column) -> Column:
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def _udf(s: pd.Series) -> pd.Series:
        idx, hashes, mask_na = _batch_unique_hashes(s)
        hexes = np.array([format(h, "x") for h in hashes], dtype=object)
        out = hexes[idx] if len(hexes) else np.empty(len(s), dtype=object)
        out = np.where(mask_na, None, out)
        return pd.Series(out, dtype=object)

    return _udf(col)


# ---------------------------------------------------------------------------
# Engine-portable hashing (Spark & DuckDB compute identical values): md5-based
# ---------------------------------------------------------------------------


def md5_bucket(col: Column, buckets: int) -> Column:
    """Deterministic bucket id in [0, buckets) derived from md5 — identical in
    Spark and DuckDB (used by oracle-checked dedup operators: the MinHash
    shingle hash and the canonicalization salt; conv() of the first 8 hex
    chars is exact in 64-bit integer range). md5 reads a string as UTF-8;
    a NULL input gives NULL."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % buckets
