"""Minimal proto3 wire encoder for the stream output contract.

Implements the public proto3 encoding rules (varint, length-delimited)
for the message shapes declared in the reference wire schema
(/root/reference/proto/oanda_stream.proto):

  PriceLevelProto   { string price = 1; uint64 liquidity = 2; }
  PriceTickProto    { repeated PriceLevelProto asks = 1; bids = 2;
                      string closeout_ask = 3; closeout_bid = 4;
                      instrument = 5; status = 6;
                      google.protobuf.Timestamp time = 7; }
  HeartbeatProto    { Timestamp time = 1; string type = 2; }
  StreamMessageProto{ oneof { PriceTickProto price_tick = 1;
                              HeartbeatProto heartbeat = 2; } }
  Timestamp         { int64 seconds = 1; int32 nanos = 2; }

proto3 semantics honored: default values (empty string, 0) are omitted;
oneof encodes exactly one branch. Used inside foreachBatch /
mapInPandas — the encoder runs executor-side over Arrow batches, never
on the driver.

If google.protobuf becomes available, these bytes parse with the
generated classes for the same .proto — the contract, not this encoder,
is the interface.
"""

from __future__ import annotations

_WT_VARINT = 0
_WT_LEN = 2


# one-byte varints: every value 0-127, which covers the tag byte of
# every field number below 16 — most calls are served without a loop
_SMALL = tuple(bytes((i,)) for i in range(128))


def _varint(n: int) -> bytes:
    if 0 <= n < 128:
        return _SMALL[n]
    if n < 0:
        n &= (1 << 64) - 1  # two's-complement 64-bit, per spec
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wire_type: int) -> bytes:
    return _varint((field << 3) | wire_type)


def _len_field(field: int, payload: bytes) -> bytes:
    if not payload:
        return b""  # proto3: empty string/message-bytes w/ no presence -> omit
    return _tag(field, _WT_LEN) + _varint(len(payload)) + payload


def _str_field(field: int, s: str | None) -> bytes:
    return _len_field(field, s.encode("utf-8") if s else b"")


def _uint_field(field: int, n: int | None) -> bytes:
    if not n:
        return b""  # proto3 default 0 -> omit
    return _tag(field, _WT_VARINT) + _varint(n)


def encode_timestamp(seconds: int, nanos: int) -> bytes:
    return _uint_field(1, seconds) + _uint_field(2, nanos)


def _submsg_field(field: int, payload: bytes, force: bool = False) -> bytes:
    """Submessage presence is explicit: encode even when empty if set."""
    if payload == b"" and not force:
        return b""
    return _tag(field, _WT_LEN) + _varint(len(payload)) + payload


def encode_price_level(price: str | None, liquidity: int | None) -> bytes:
    return _str_field(1, price) + _uint_field(2, liquidity or 0)


def encode_price_tick(asks, bids, closeout_ask, closeout_bid,
                      instrument, status, ts_seconds, ts_nanos) -> bytes:
    out = bytearray()
    for lv in asks or []:
        out += _submsg_field(1, encode_price_level(lv[0], lv[1]), force=True)
    for lv in bids or []:
        out += _submsg_field(2, encode_price_level(lv[0], lv[1]), force=True)
    out += _str_field(3, closeout_ask)
    out += _str_field(4, closeout_bid)
    out += _str_field(5, instrument)
    out += _str_field(6, status)
    if ts_seconds is not None:
        out += _submsg_field(7, encode_timestamp(ts_seconds, ts_nanos), force=True)
    return bytes(out)


def encode_heartbeat(ts_seconds, ts_nanos, hb_type: str | None) -> bytes:
    out = bytearray()
    if ts_seconds is not None:
        out += _submsg_field(1, encode_timestamp(ts_seconds, ts_nanos), force=True)
    out += _str_field(2, hb_type)
    return bytes(out)


def encode_stream_message(message_type: str, payload: bytes) -> bytes:
    """oneof envelope: price_tick=1, heartbeat=2 — the wire schema is
    closed; anything else (Unknown) must not reach this encoder
    (main.rs:117-119 parity is enforced upstream by publishable())."""
    if message_type == "price_tick":
        return _submsg_field(1, payload, force=True)
    if message_type == "heartbeat":
        return _submsg_field(2, payload, force=True)
    raise ValueError(f"unpublishable message_type: {message_type!r}")
