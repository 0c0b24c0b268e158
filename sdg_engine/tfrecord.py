"""From-scratch TFRecord container + tf.train.Example wire codec
(r05 wave 15) — the training-data handoff format, built the way WAV /
PNG / MVT / TIFF were: from the PUBLIC specs only (TFRecord framing:
length + masked CRC32C per the TensorFlow documentation; Example is a
standard protobuf message, encoded here with a hand-rolled varint
writer — no protobuf library in this container).

Framing per record:
    uint64 length (LE) | masked_crc32c(length bytes) |
    data | masked_crc32c(data)
mask(crc) = ((crc >> 15 | crc << 17) + 0xa282ead8) mod 2^32, CRC32C =
Castagnoli reflected polynomial 0x82F63B78.

Example proto subset (tags from the public tensorflow/core/example
schema): Example.features = field 1; Features.feature map entries =
field 1; map key = field 1 (string), value = field 2 (Feature);
Feature.bytes_list = field 1, Feature.int64_list = field 3;
BytesList.value = repeated field 1 (length-delimited);
Int64List.value = repeated field 1 (packed varints).
"""

from __future__ import annotations

import struct

from .wire import read_varint, varint

_CRC_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC_TABLE.append(_c)


def crc32c(data: bytes) -> int:
    c = 0xFFFFFFFF
    for b in data:
        c = (c >> 8) ^ _CRC_TABLE[(c ^ b) & 0xFF]
    return c ^ 0xFFFFFFFF


def masked_crc(data: bytes) -> int:
    c = crc32c(data)
    return (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def _ld(tag_byte: int, payload: bytes) -> bytes:
    """One length-delimited field: tag + varint(len) + payload."""
    return bytes([tag_byte]) + varint(len(payload)) + payload


def encode_example(feats: dict) -> bytes:
    """dict of {name: bytes | int | list[int]} → tf.train.Example."""
    entries = b""
    for name in sorted(feats):  # deterministic field order
        v = feats[name]
        if isinstance(v, bytes):
            feature = _ld(0x0A, _ld(0x0A, v))  # bytes_list.value
        else:
            vals = v if isinstance(v, list) else [int(v)]
            packed = b"".join(
                varint(x) for x in vals
            )
            feature = _ld(0x1A, _ld(0x0A, packed))  # int64_list.value
        entry = _ld(0x0A, name.encode("utf-8")) + _ld(0x12, feature)
        entries += _ld(0x0A, entry)
    return _ld(0x0A, entries)  # Example.features


def _expect(data: bytes, pos: int, tag: int) -> tuple[int, int]:
    if data[pos] != tag:
        raise ValueError(f"unexpected tag {data[pos]:#x} (want {tag:#x})")
    return read_varint(data, pos + 1)


def decode_example(data: bytes) -> dict:
    """tf.train.Example (the subset above) → {name: bytes | list[int]}."""
    n, pos = _expect(data, 0, 0x0A)
    end = pos + n
    out: dict = {}
    while pos < end:
        elen, pos = _expect(data, pos, 0x0A)
        eend = pos + elen
        klen, pos = _expect(data, pos, 0x0A)
        key = data[pos:pos + klen].decode("utf-8")
        pos += klen
        flen, pos = _expect(data, pos, 0x12)
        ftag = data[pos]
        plen, pos = read_varint(data, pos + 1)
        vlen, pos = read_varint(data, pos + 1)
        if ftag == 0x0A:  # bytes_list: single value supported
            out[key] = data[pos:pos + vlen]
            pos += vlen
        elif ftag == 0x1A:  # int64_list, packed
            vals = []
            vend = pos + vlen
            while pos < vend:
                v, pos = read_varint(data, pos)
                if v >= 1 << 63:
                    v -= 1 << 64
                vals.append(v)
            out[key] = vals
        else:
            raise ValueError(f"unsupported feature tag {ftag:#x}")
        if pos != eend:
            raise ValueError("feature-entry length mismatch")
    return out


def write_tfrecords(path: str, payloads) -> None:
    with open(path, "wb") as f:
        for data in payloads:
            ln = struct.pack("<Q", len(data))
            f.write(ln)
            f.write(struct.pack("<I", masked_crc(ln)))
            f.write(data)
            f.write(struct.pack("<I", masked_crc(data)))


def read_tfrecords(data: bytes) -> list[bytes]:
    """Parse a TFRecord byte stream, VERIFYING both CRCs per record."""
    out = []
    pos = 0
    while pos < len(data):
        ln_bytes = data[pos:pos + 8]
        (ln,) = struct.unpack("<Q", ln_bytes)
        (lcrc,) = struct.unpack("<I", data[pos + 8:pos + 12])
        if lcrc != masked_crc(ln_bytes):
            raise ValueError(f"length CRC mismatch at offset {pos}")
        pos += 12
        rec = data[pos:pos + ln]
        (dcrc,) = struct.unpack("<I", data[pos + ln:pos + ln + 4])
        if dcrc != masked_crc(rec):
            raise ValueError(f"data CRC mismatch at offset {pos}")
        out.append(rec)
        pos += ln + 4
    return out
