"""Key extraction + key→uint32-id hashing, Spark-side and driver-side.

The reference's engine consumes uint32 item ids; string inputs are
packed to uint32 before entering it (precision_hh.c:543,597). Our
analog: hash tokens/urls/hosts to the 32-bit universe with Spark's
built-in ``xxhash64`` (JVM-side, whole-stage-codegen — no Python in the
hot path), masked to 32 bits. ``xxh64`` below is a pure-Python
implementation of the public xxHash64 algorithm producing bit-identical
ids on the driver (seed 42, matching Spark's XxHash64 expression), so
point queries can hash probe keys without a Spark job. ``xxh64_array``
is the same hash vectorized over a whole Arrow string/binary array in
numpy (one pass per 32-byte stripe / 8-byte word / tail byte, across
all slots at once), for Python workers that hash a batch vocabulary
(spark/fused.py).

Collisions: with a 32-bit universe and ~10^9+ distinct keys at 100 TB,
hash collisions fold key mass together (standard for the dyadic-HH
construction, which needs an integer universe). Top-k / φ-HH answers are
resolved back to strings by an exact second pass filtered to candidate
ids, which also eliminates collision false-positives.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MASK32 = (1 << 32) - 1

_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_M = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """Public xxHash64; bit-parity with Spark's xxhash64 expression."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            for _ in range(1):
                v1 = (_rotl((v1 + int.from_bytes(data[i : i + 8], "little") * _P2) & _M, 31) * _P1) & _M
                v2 = (_rotl((v2 + int.from_bytes(data[i + 8 : i + 16], "little") * _P2) & _M, 31) * _P1) & _M
                v3 = (_rotl((v3 + int.from_bytes(data[i + 16 : i + 24], "little") * _P2) & _M, 31) * _P1) & _M
                v4 = (_rotl((v4 + int.from_bytes(data[i + 24 : i + 32], "little") * _P2) & _M, 31) * _P1) & _M
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ ((_rotl((v * _P2) & _M, 31) * _P1) & _M)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        k = (_rotl((int.from_bytes(data[i : i + 8], "little") * _P2) & _M, 31) * _P1) & _M
        h = ((_rotl(h ^ k, 27) * _P1) + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = ((_rotl(h ^ ((int.from_bytes(data[i : i + 4], "little") * _P1) & _M), 23) * _P2) + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


_U = np.uint64


def _rotl_v(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U(r)) | (x >> _U(64 - r))


def _round_v(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl_v(acc + lane * _U(_P2), 31) * _U(_P1)


def xxh64_array(arr: pa.Array, seed: int = 42) -> np.ndarray:
    """``xxh64`` of every slot of an Arrow string / large_string /
    binary / large_binary array, as uint64 — bit-identical to
    ``xxh64(slot_bytes, seed)`` per slot. Null slots are not special-
    cased (they hash their, usually empty, underlying bytes).

    Reads the offsets and data buffers directly and advances every slot
    in lockstep: stripes of 32 bytes (slots of >= 32 bytes), then
    8-byte words, one 4-byte word, and single tail bytes; each step
    touches only the slots that still have that many bytes left."""
    if len(arr) == 0:
        return np.empty(0, dtype=np.uint64)
    large = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    _, obuf, dbuf = arr.buffers()
    off = np.frombuffer(obuf, dtype=np.int64 if large else np.int32)
    off = off[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    data = np.zeros(off[-1] - off[0] + 8, dtype=np.uint8)
    if dbuf is not None:
        # the 8 zero bytes of padding let the overlapping word views
        # below start at every byte position
        data[:-8] = np.frombuffer(dbuf, dtype=np.uint8)[off[0] : off[-1]]
    w64 = np.ndarray(len(data) - 7, dtype="<u8", buffer=data, strides=(1,))
    w32 = np.ndarray(len(data) - 3, dtype="<u4", buffer=data, strides=(1,))
    pos = off[:-1] - off[0]
    end = off[1:] - off[0]
    n = end - pos
    h = np.full(len(n), (seed + _P5) & _M, dtype=np.uint64)

    big = np.flatnonzero(n >= 32)
    if big.size:
        p = pos[big]
        init = [seed + _P1 + _P2, seed + _P2, seed, seed - _P1]
        v = np.array([x & _M for x in init], dtype=np.uint64)[:, None].repeat(big.size, axis=1)
        lanes = np.arange(0, 32, 8)[:, None]
        act = np.arange(big.size)
        while act.size:
            q = p[act]
            v[:, act] = _round_v(v[:, act], w64[q + lanes])
            p[act] = q + 32
            act = act[p[act] + 32 <= end[big[act]]]
        hb = _rotl_v(v[0], 1) + _rotl_v(v[1], 7) + _rotl_v(v[2], 12) + _rotl_v(v[3], 18)
        for lane in v:
            hb = (hb ^ _round_v(_U(0), lane)) * _U(_P1) + _U(_P4)
        h[big] = hb
        pos[big] = p
    h += n.astype(np.uint64)

    act = np.flatnonzero(pos + 8 <= end)
    while act.size:
        q = pos[act]
        h[act] = _rotl_v(h[act] ^ _round_v(_U(0), w64[q]), 27) * _U(_P1) + _U(_P4)
        pos[act] = q + 8
        act = act[pos[act] + 8 <= end[act]]
    act = np.flatnonzero(pos + 4 <= end)
    q = pos[act]
    h[act] = _rotl_v(h[act] ^ (w32[q].astype(np.uint64) * _U(_P1)), 23) * _U(_P2) + _U(_P3)
    pos[act] = q + 4
    act = np.flatnonzero(pos < end)
    while act.size:
        q = pos[act]
        h[act] = _rotl_v(h[act] ^ (data[q].astype(np.uint64) * _U(_P5)), 11) * _U(_P1)
        pos[act] = q + 1
        act = act[pos[act] < end[act]]

    h ^= h >> _U(33)
    h *= _U(_P2)
    h ^= h >> _U(29)
    h *= _U(_P3)
    h ^= h >> _U(32)
    return h


def key_id(key: str) -> int:
    """uint32 item id of a string key — driver-side parity with key_id_col."""
    return xxh64(key.encode("utf-8")) & MASK32


def key_id_col(col: str | Column) -> Column:
    """uint32 item id column (JVM-side xxhash64, codegen'd)."""
    c = F.col(col) if isinstance(col, str) else col
    # xxhash64 is signed int64; mask the low 32 bits
    return F.xxhash64(c).bitwiseAND(F.lit(MASK32))


def ip_to_uint32_col(col: str | Column) -> Column:
    """Pack a dotted-quad IPv4 string into a uint32 item id — the
    reference's NUST/DARPA input path packs source IPs the same way
    before they enter the engine (precision_hh.c:543,597). Pure
    Catalyst (split + shifts), codegen'd."""
    c = F.col(col) if isinstance(col, str) else col
    p = F.split(c, r"\.")
    return (
        p.getItem(0).cast("long") * F.lit(1 << 24)
        + p.getItem(1).cast("long") * F.lit(1 << 16)
        + p.getItem(2).cast("long") * F.lit(1 << 8)
        + p.getItem(3).cast("long")
    )


def tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """text → one row per token (stock Catalyst explode/split)."""
    return df.select(F.explode(F.split(F.col(text_col), " ")).alias("token")).where(
        F.col("token") != ""
    )


def hosts(df: DataFrame, url_col: str = "url") -> DataFrame:
    return df.select(F.parse_url(F.col(url_col), F.lit("HOST")).alias("host"))
