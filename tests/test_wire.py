"""Varint / zigzag wire primitives (sdg_engine/wire.py) shared by the
MVT, TFRecord and Avro codecs."""

from sdg_engine.wire import read_varint, unzigzag, varint, write_varint, zigzag

INT64 = [0, 1, -1, 2, -2, 63, -64, 64, 127, 128, 300, -300,
         2**31 - 1, -2**31, 2**62, 2**63 - 1, -2**63]


def test_varint_known_vectors():
    # protobuf encoding doc: 1 -> 01, 150 -> 96 01, 300 -> ac 02
    assert varint(1) == b"\x01"
    assert varint(150) == b"\x96\x01"
    assert varint(300) == b"\xac\x02"
    # negative int64 encode as their 64-bit two's complement (10 bytes)
    assert varint(-1) == b"\xff" * 9 + b"\x01"


def test_varint_roundtrip_and_cursor():
    buf = bytearray(b"\xaa")
    for v in INT64:
        write_varint(buf, v)
    pos, got = 1, []
    while pos < len(buf):
        v, pos = read_varint(buf, pos)
        got.append(v)
    assert got == [v & (2**64 - 1) for v in INT64]


def test_zigzag_maps_int64_onto_unsigned():
    assert [zigzag(v) for v in (0, -1, 1, -2, 2)] == [0, 1, 2, 3, 4]
    assert zigzag(2**63 - 1) == 2**64 - 2 and zigzag(-2**63) == 2**64 - 1
    for v in INT64:
        assert unzigzag(zigzag(v)) == v
