"""Base-128 varints and zigzag signed-int mapping — the integer wire
primitives shared by the from-scratch codecs: protobuf in MVT tiles
(mvt.py) and tf.train.Example records (tfrecord.py), and Avro's
int/long binary encoding (avro.py)."""

from __future__ import annotations

_MASK64 = (1 << 64) - 1


def write_varint(buf: bytearray, v: int) -> None:
    """Append ``v`` (taken mod 2**64, so negative int64 become their
    two's-complement bit pattern) as a little-endian base-128 varint."""
    v &= _MASK64
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def varint(v: int) -> bytes:
    out = bytearray()
    write_varint(out, v)
    return bytes(out)


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Decode the varint at ``buf[pos]`` -> (value, position after it)."""
    v = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7


def zigzag(n: int) -> int:
    """Signed int64 -> unsigned: 0, -1, 1, -2, ... -> 0, 1, 2, 3, ..."""
    return (n << 1) ^ (n >> 63)


def unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)
