"""Executor-side protobuf encoding of the routed stream
(T1/T2 parity: /root/reference/src/main.rs:153-180 model→proto mapping
and the oneof envelope wrap at main.rs:89-91,111-113).

Runs inside mapInPandas over Arrow batches: the Python encoder sees
columnar batches, never row-at-a-time driver traffic.  Two callers share
the encoder: ``encode_stream`` yields (message_type, payload) rows for
the single driver-side publisher, and the partitioned edge
(``sinks.publish_batch_partitioned``) encodes and publishes in the same
Python pass, so payloads never cross back into the JVM.  The bytes
themselves are the contract (proto/wire.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..proto import wire

ENCODED_SCHEMA = "message_type string, payload binary"


def _ladder(levels) -> list:
    # Arrow hands array<struct> as a numpy array of dicts (or None)
    if levels is None:
        return []
    return [(lv["price"], lv["liquidity"]) for lv in levels]


def _ts(v):
    return None if v is None or pd.isna(v) else int(v)


def encode_payloads(pdf: pd.DataFrame) -> list[bytes]:
    """One Arrow batch of ``encode_columns`` rows -> envelope bytes, in
    row order."""
    payloads = []
    for row in pdf.itertuples(index=False):
        if row.message_type == "price_tick":
            tick = row.price_tick
            body = wire.encode_price_tick(
                asks=_ladder(tick["asks"]), bids=_ladder(tick["bids"]),
                closeout_ask=tick["closeoutAsk"],
                closeout_bid=tick["closeoutBid"],
                instrument=tick["instrument"],
                status=tick["status"],
                ts_seconds=_ts(row.ts_seconds), ts_nanos=_ts(row.ts_nanos) or 0)
        else:  # heartbeat — publishable() upstream guarantees the closed set
            hb = row.heartbeat
            body = wire.encode_heartbeat(_ts(row.ts_seconds),
                                         _ts(row.ts_nanos) or 0, hb["type"])
        payloads.append(wire.encode_stream_message(row.message_type, body))
    return payloads


def _encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame({"message_type": pdf["message_type"],
                            "payload": encode_payloads(pdf)})


def encode_columns(df: DataFrame) -> DataFrame:
    """The columns ``encode_payloads`` reads from a routed+derived frame.

    Timestamp split mirrors parse_timestamp (main.rs:140-151): seconds +
    nanos. Spark timestamps are μs, so nanos is μs*1000 (the documented
    ns→μs truncation, SURVEY.md §7)."""
    return df.select(
        "message_type", "price_tick", "heartbeat",
        F.floor(F.unix_micros("event_ts") / 1_000_000).cast("long").alias("ts_seconds"),
        ((F.unix_micros("event_ts") % 1_000_000) * 1000).cast("int").alias("ts_nanos"),
    )


def encode_stream(df: DataFrame) -> DataFrame:
    """Routed+derived frame -> (message_type, payload bytes)."""
    return encode_columns(df).mapInPandas(_encode_batches, schema=ENCODED_SCHEMA)
