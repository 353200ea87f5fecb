"""Executor-side protobuf encoding of the routed stream
(T1/T2 parity: /root/reference/src/main.rs:153-180 model→proto mapping
and the oneof envelope wrap at main.rs:89-91,111-113).

``encode_columns`` flattens everything the encoder reads in Catalyst —
the closeout strings, instrument, status, the heartbeat type, each price
ladder as two arrays (``transform(asks, x -> x.price)`` and
``x.liquidity``) and the timestamp split — so the Python side runs as
``mapInArrow`` over flat Arrow columns: each column is read once per
batch with ``to_pylist()``, with no struct→dict conversion per row.  Two
callers share ``encode_payloads``: ``encode_stream`` yields
(message_type, payload) rows for the single driver-side publisher, and
the partitioned edge (``sinks.publish_batch_partitioned``) encodes and
publishes in the same Python pass, so payloads never cross back into the
JVM.  The bytes themselves are the contract (proto/wire.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame

from ..proto import wire

ENCODED_SCHEMA = "message_type string, payload binary"

# Timestamp split mirrors parse_timestamp (main.rs:140-151): seconds +
# nanos. Spark timestamps are μs, so nanos is μs*1000 (the documented
# ns→μs truncation, SURVEY.md §7).
_FLAT = (
    "message_type",
    "transform(price_tick.asks, x -> x.price) AS ask_prices",
    "transform(price_tick.asks, x -> x.liquidity) AS ask_liquidity",
    "transform(price_tick.bids, x -> x.price) AS bid_prices",
    "transform(price_tick.bids, x -> x.liquidity) AS bid_liquidity",
    "price_tick.closeoutAsk AS closeout_ask",
    "price_tick.closeoutBid AS closeout_bid",
    "price_tick.instrument AS instrument",
    "price_tick.status AS status",
    "heartbeat.type AS heartbeat_type",
    "CAST(floor(unix_micros(event_ts) / 1000000) AS BIGINT) AS ts_seconds",
    "CAST((unix_micros(event_ts) % 1000000) * 1000 AS INT) AS ts_nanos",
)
_FLAT_NAMES = tuple(e.rsplit(" AS ", 1)[-1] for e in _FLAT)


def encode_payloads(batch: pa.RecordBatch) -> list[bytes]:
    """One Arrow batch of ``encode_columns`` rows -> envelope bytes, in
    row order.  A price_tick row must carry its ladders (route()
    guarantees them): a row without its price_tick struct has none, and
    raises a TypeError here."""
    payloads = []
    for (kind, ask_p, ask_l, bid_p, bid_l, c_ask, c_bid, instrument, status,
         hb_type, secs, nanos) in zip(*(batch.column(n).to_pylist()
                                         for n in _FLAT_NAMES)):
        if kind == "price_tick":
            body = wire.encode_price_tick(
                zip(ask_p, ask_l), zip(bid_p, bid_l), c_ask, c_bid,
                instrument, status, secs, nanos or 0)
        else:  # heartbeat — publishable() upstream guarantees the closed set
            body = wire.encode_heartbeat(secs, nanos or 0, hb_type)
        payloads.append(wire.encode_stream_message(kind, body))
    return payloads


def _encode_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        yield pa.RecordBatch.from_arrays(
            [batch.column("message_type"),
             pa.array(encode_payloads(batch), pa.binary())],
            names=["message_type", "payload"])


def encode_columns(df: DataFrame) -> DataFrame:
    """The flat columns ``encode_payloads`` reads from a routed+derived
    frame."""
    return df.selectExpr(*_FLAT)


def encode_stream(df: DataFrame) -> DataFrame:
    """Routed+derived frame -> (message_type, payload bytes)."""
    return encode_columns(df).mapInArrow(_encode_batches, schema=ENCODED_SCHEMA)
