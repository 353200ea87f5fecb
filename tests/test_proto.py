"""Wire-format tests: hand-decode the proto3 bytes the encoder emits
(field numbers from the reference contract,
/root/reference/proto/oanda_stream.proto:1-32)."""

from __future__ import annotations

import pytest

from oanda_stream_processor_spark.proto import wire


def read_varint(b: bytes, i: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        n |= (b[i] & 0x7F) << shift
        shift += 7
        i += 1
        if not b[i - 1] & 0x80:
            return n, i


def decode_fields(b: bytes) -> list[tuple[int, int, object]]:
    out, i = [], 0
    while i < len(b):
        tag, i = read_varint(b, i)
        field, wt = tag >> 3, tag & 7
        if wt == 0:
            v, i = read_varint(b, i)
        elif wt == 2:
            ln, i = read_varint(b, i)
            v = b[i:i + ln]
            i += ln
        else:
            raise AssertionError(f"unexpected wire type {wt}")
        out.append((field, wt, v))
    return out


def test_varint_roundtrip():
    for n in (0, 1, 127, 128, 300, 2**32, 2**63 - 1):
        v, i = read_varint(wire._varint(n), 0)
        assert v == n and i == len(wire._varint(n))


def test_price_level_fields():
    b = wire.encode_price_level("1.09431", 2000000)
    fields = decode_fields(b)
    assert fields[0] == (1, 2, b"1.09431")
    assert fields[1][:2] == (2, 0) and fields[1][2] == 2000000


def test_price_tick_field_numbers_match_contract():
    b = wire.encode_price_tick(
        asks=[("1.1", 5)], bids=[("1.0", 7)],
        closeout_ask="1.1", closeout_bid="1.0",
        instrument="EUR_USD", status="tradeable",
        ts_seconds=1_755_075_301, ts_nanos=123_456_000)
    by_field = {}
    for f, _, v in decode_fields(b):
        by_field.setdefault(f, []).append(v)
    assert set(by_field) == {1, 2, 3, 4, 5, 6, 7}  # proto:11-19
    assert by_field[5] == [b"EUR_USD"]
    ts = decode_fields(by_field[7][0])
    assert ts[0][2] == 1_755_075_301 and ts[1][2] == 123_456_000


def test_oneof_envelope():
    # StreamMessageProto: price_tick=1, heartbeat=2 (proto:27-32)
    tick = wire.encode_price_tick([], [], "1", "1", "X", "ok", 1, 0)
    env = decode_fields(wire.encode_stream_message("price_tick", tick))
    assert env[0][0] == 1
    hb = wire.encode_heartbeat(1, 0, "HEARTBEAT")
    env = decode_fields(wire.encode_stream_message("heartbeat", hb))
    assert env[0][0] == 2


def test_unknown_rejected_at_encoder():
    # the closed-wire-set invariant, main.rs:117-119
    with pytest.raises(ValueError):
        wire.encode_stream_message("unknown", b"")


def test_proto3_defaults_omitted():
    assert wire.encode_price_level("", 0) == b""
    assert wire.encode_heartbeat(None, None, "") == b""


def _varint_loop(n: int) -> bytes:
    """The plain LEB128 loop the table-served encoder must match."""
    if n < 0:
        n &= (1 << 64) - 1
    out = bytearray()
    while True:
        b, n = n & 0x7F, n >> 7
        if not n:
            out.append(b)
            return bytes(out)
        out.append(b | 0x80)


@pytest.mark.parametrize("n", [0, 1, 127, 128, 16383, 16384, 2**63, -1])
def test_varint_matches_loop(n):
    assert wire._varint(n) == _varint_loop(n)


def test_tags_match_loop():
    for field in range(1, 20):
        for wt in (wire._WT_VARINT, wire._WT_LEN):
            assert wire._tag(field, wt) == _varint_loop((field << 3) | wt)
