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
oneof encodes exactly one branch. Used inside mapInArrow — the encoder
runs executor-side over Arrow batches, never on the driver.

If google.protobuf becomes available, these bytes parse with the
generated classes for the same .proto — the contract, not this encoder,
is the interface.
"""

from __future__ import annotations

_WT_VARINT = 0
_WT_LEN = 2
_U64 = (1 << 64) - 1

# one-byte varints: every value 0-127, which covers every length below
# 128 bytes — most calls are served without a loop
_SMALL = tuple(bytes((i,)) for i in range(128))


def _varint(n: int) -> bytes:
    if 0 <= n < 128:
        return _SMALL[n]
    if n < 0:
        n &= _U64  # two's-complement 64-bit, per spec
    out = bytearray()
    while n > 127:
        out.append(n & 0x7F | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _tag(field: int, wire_type: int) -> bytes:
    return _varint((field << 3) | wire_type)


# Every field number in the schema is below 16, so each tag is a single
# constant byte, looked up here instead of encoded per field.
_LEN = tuple(_tag(f, _WT_LEN) for f in range(16))
_VARINT = tuple(_tag(f, _WT_VARINT) for f in range(16))


def encode_timestamp(seconds: int | None, nanos: int | None) -> bytes:
    out = _VARINT[1] + _varint(seconds) if seconds else b""  # proto3: 0 omitted
    if nanos:
        out += _VARINT[2] + _varint(nanos)
    return out


def encode_price_level(price: str | None, liquidity: int | None) -> bytes:
    out = b""
    if price:  # proto3: empty string omitted
        p = price.encode("utf-8")
        out = _LEN[1] + _varint(len(p)) + p
    if liquidity:
        out += _VARINT[2] + _varint(liquidity)
    return out


def encode_price_tick(asks, bids, closeout_ask, closeout_bid,
                      instrument, status, ts_seconds, ts_nanos) -> bytes:
    """Levels are (price, liquidity) pairs.  A level or the timestamp is
    a submessage with explicit presence: it is written even when empty."""
    parts = []
    for tag, levels in ((_LEN[1], asks), (_LEN[2], bids)):
        for lv in levels or ():
            level = encode_price_level(lv[0], lv[1])
            parts += (tag, _varint(len(level)), level)
    for tag, s in ((_LEN[3], closeout_ask), (_LEN[4], closeout_bid),
                   (_LEN[5], instrument), (_LEN[6], status)):
        if s:
            b = s.encode("utf-8")
            parts += (tag, _varint(len(b)), b)
    if ts_seconds is not None:
        ts = encode_timestamp(ts_seconds, ts_nanos)
        parts += (_LEN[7], _varint(len(ts)), ts)
    return b"".join(parts)


def encode_heartbeat(ts_seconds, ts_nanos, hb_type: str | None) -> bytes:
    parts = []
    if ts_seconds is not None:
        ts = encode_timestamp(ts_seconds, ts_nanos)
        parts += (_LEN[1], _varint(len(ts)), ts)
    if hb_type:
        b = hb_type.encode("utf-8")
        parts += (_LEN[2], _varint(len(b)), b)
    return b"".join(parts)


def encode_stream_message(message_type: str, payload: bytes) -> bytes:
    """oneof envelope: price_tick=1, heartbeat=2 — the wire schema is
    closed; anything else (Unknown) must not reach this encoder
    (main.rs:117-119 parity is enforced upstream by publishable())."""
    if message_type == "price_tick":
        return _LEN[1] + _varint(len(payload)) + payload
    if message_type == "heartbeat":
        return _LEN[2] + _varint(len(payload)) + payload
    raise ValueError(f"unpublishable message_type: {message_type!r}")
