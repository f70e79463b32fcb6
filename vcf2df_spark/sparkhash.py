"""Spark-compatible xxHash64, in Python, for driver-side partition routing.

The encode partitioner is ``pmod(xxhash64(conv_id, turn_idx //
TURNS_PER_SPLIT), N)`` (encode.with_partition_key). Because that hash is
deterministic, a point lookup does not need to SEARCH for a conversation's
partitions — it can COMPUTE them and open exactly those directories. This
module reimplements the two pieces Spark's ``F.xxhash64`` uses for our key
types, verified bit-for-bit against Spark in tests/test_scan.py:

- XXH64 over UTF-8 bytes (StringType), standard XXH64 algorithm;
- XXH64 of a 4-byte little-endian word (IntegerType);
- multi-argument chaining: ``xxhash64(c1, c2)`` seeds the hash of ``c2``
  with the hash of ``c1``, starting from Spark's fixed seed 42.

Pure integer arithmetic mod 2^64; no third-party hash libraries.
"""

from __future__ import annotations

_MASK = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

SPARK_SEED = 42

TURNS_PER_SPLIT = 256  # conversations longer than this are split across partitions


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _MASK
    return (_rotl(acc, 31) * _P1) & _MASK


def _merge(acc: int, lane: int) -> int:
    acc ^= _round(0, lane)
    return (acc * _P1 + _P4) & _MASK


def xxh64(data: bytes, seed: int) -> int:
    """Standard XXH64 (the algorithm Spark's XXH64.hashUnsafeBytes
    implements word-wise)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        h = _merge(h, v1)
        h = _merge(h, v2)
        h = _merge(h, v3)
        h = _merge(h, v4)
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i + 8 <= n:
        k = _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h ^ k, 27) * _P1 + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    return _fmix(h)


def _to_signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def xxhash64_string(s: str, seed: int) -> int:
    return xxh64(s.encode("utf-8"), seed & _MASK)


def xxhash64_int(v: int, seed: int) -> int:
    """Spark hashes IntegerType as the 4-byte little-endian word."""
    return xxh64((v & 0xFFFFFFFF).to_bytes(4, "little"), seed & _MASK)


def spark_xxhash64(*values) -> int:
    """``F.xxhash64(*cols)`` for str/int values: chained, seed 42, signed."""
    h = SPARK_SEED
    for v in values:
        if isinstance(v, str):
            h = xxhash64_string(v, h)
        elif isinstance(v, int):
            h = xxhash64_int(v, h)
        else:
            raise TypeError(f"unsupported type {type(v)}")
    return _to_signed(h)


def split_of(turn_idx: int) -> int:
    """The salt ``encode.with_partition_key`` gives a turn:
    ``(turn_idx / 256).cast("int")`` truncates toward zero, so turns
    -255..255 share split 0 and -256 is split -1 (Python's ``//`` floors,
    which disagrees for every negative index)."""
    q = abs(int(turn_idx)) // TURNS_PER_SPLIT
    return q if turn_idx >= 0 else -q


def pkey_for(conv_id: str, split: int, num_partitions: int) -> int:
    """The exact partition ``encode.with_partition_key`` routes
    (conv_id, turns with ``split_of(turn_idx) == split``) to."""
    return spark_xxhash64(conv_id, split) % num_partitions  # pmod: py % is >=0
