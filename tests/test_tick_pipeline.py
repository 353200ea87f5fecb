"""Reference-invariant tests (SURVEY.md §2.1 'Semantic invariants'):
each test is tied to a cited behavior of the reference pipeline."""

from __future__ import annotations

import os
import threading

from pyspark.sql import functions as F

from oanda_stream_processor_spark.functions.ticks import publishable
from oanda_stream_processor_spark.sources.ndjson import read_ticks

# tests/data/ticks.ndjson: 7 lines — 3 ticks, 1 heartbeat, 1 blank,
# 1 malformed, 1 unknown (plus one tick with unparseable closeoutAsk).


def test_blank_lines_skipped_and_malformed_dropped(spark, tick_capture):
    # oanda_client.rs:51-53 (blank skip) and :57-60 (corrupt drop)
    df = read_ticks(spark, tick_capture)
    assert df.count() == 5  # 7 lines - blank - malformed


def test_routing_counts(spark, tick_capture):
    # oanda_client.rs:63-82 3-way dispatch
    counts = dict(read_ticks(spark, tick_capture)
                  .groupBy("message_type").count().collect())
    assert counts == {"price_tick": 3, "heartbeat": 1, "unknown": 1}


def test_unknown_retained_but_never_published(spark, tick_capture):
    # oanda_client.rs:79-82 (retain) + main.rs:117-119 (never publish)
    df = read_ticks(spark, tick_capture)
    assert df.where(F.col("message_type") == "unknown").count() == 1
    pub = publishable(df)
    assert pub.count() == 4
    assert pub.where(F.col("message_type") == "unknown").count() == 0


def test_spread_unparseable_price_is_zero_not_null(spark, tick_capture):
    # main.rs:70-72 unwrap_or(0.0): "N/A" ask -> 0.0 - 157.301 = -157.301
    row = (read_ticks(spark, tick_capture)
           .where(F.col("price_tick.instrument") == "USD_JPY")
           .select("spread").collect()[0])
    assert row.spread is not None
    assert abs(row.spread - (-157.301)) < 1e-9


def test_spread_normal(spark, tick_capture):
    rows = (read_ticks(spark, tick_capture)
            .where(F.col("price_tick.instrument") == "EUR_USD")
            .select("spread").collect())
    for r in rows:
        assert 0 < r.spread < 0.001


def test_dual_format_timestamps(spark, tick_capture):
    # main.rs:140-151: RFC3339 preferred; fractional-or-not both parse
    df = read_ticks(spark, tick_capture)
    with_ts = df.where(F.col("message_type") != "unknown")
    assert with_ts.where(F.col("event_ts").isNull()).count() == 0
    # ns input truncates to μs (documented)
    t = (df.where(F.col("price_tick.time") == "2026-08-13T09:15:01.123456789Z")
           .select(F.date_format("event_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
                   .alias("s")).collect()[0].s)
    assert t == "2026-08-13 09:15:01.123456"


def test_heartbeats_are_data_rows(spark, tick_capture):
    # main.rs:95-116: heartbeats flow to the sink like ticks
    hb = (read_ticks(spark, tick_capture)
          .where(F.col("message_type") == "heartbeat"))
    assert hb.count() == 1
    assert hb.select("event_ts").collect()[0].event_ts is not None


def test_schema_mismatch_demoted_to_unknown(spark, tmp_path):
    # oanda_client.rs:66-78: a discriminator match whose payload fails
    # serde (required field missing) falls back to Unknown — and Unknown
    # is never published (main.rs:117-119)
    src = tmp_path / "mismatch.ndjson"
    src.write_text("\n".join([
        # has "instrument" but no closeoutBid/closeoutAsk/time -> Unknown
        '{"instrument":"EUR_USD","status":"tradeable","bids":[],"asks":[]}',
        # heartbeat without time -> Unknown
        '{"type":"HEARTBEAT"}',
        # complete tick -> price_tick
        '{"type":"PRICE","time":"2026-08-13T09:15:01Z","instrument":"EUR_USD",'
        '"status":"tradeable","closeoutBid":"1.0","closeoutAsk":"1.1",'
        '"bids":[],"asks":[]}',
    ]) + "\n")
    df = read_ticks(spark, str(src))
    counts = dict(df.groupBy("message_type").count().collect())
    assert counts == {"unknown": 2, "price_tick": 1}
    assert publishable(df).count() == 1


def test_nested_ladders_parsed(spark, tick_capture):
    df = read_ticks(spark, tick_capture)
    r = (df.where(F.col("price_tick.instrument") == "EUR_USD")
           .select(F.size("price_tick.bids").alias("nb"),
                   F.col("price_tick.bids")[0]["liquidity"].alias("liq"))
           .orderBy(F.desc("nb")).collect()[0])
    assert r.nb == 2 and r.liq == 1000000


# --- routing golden table ----------------------------------------------------
# (message_type, price_tick is null, heartbeat is null) per edge line, with
# None for a dropped line.  Recorded from the per-field-parse route (one
# from_json per schema plus get_json_object on $.type / $.instrument) and
# pinned on the one-parse envelope route, with one deliberate change: on a
# duplicated "type" key the discriminator now reads the LAST value, as the
# payload fields always did and as the reference's serde_json::Value map
# does (oanda_client.rs:55), where it used to read the first.

_T = '"time":"2026-08-13T09:15:01Z"'
_HB = '"type":"HEARTBEAT",' + _T
_BODY = ('"instrument":"EUR_USD","status":"tradeable","closeoutBid":"1.0",'
         '"closeoutAsk":"1.1","bids":[{"price":"1.0","liquidity":5}],"asks":[]')
_PRICE = '"type":"PRICE",' + _T + ',' + _BODY


def _obj(*parts: str) -> str:
    return "{" + ",".join(parts) + "}"


def _price(old: str, new: str) -> str:
    assert old in _PRICE
    return _obj(_PRICE.replace(old, new))


TICK = ("price_tick", False, True)
BEAT = ("heartbeat", True, False)
UNKNOWN = ("unknown", True, True)

ROUTING_GOLDEN = [
    # top-level scalars, null and arrays are JSON, not objects: Unknown
    ("123", UNKNOWN), ('"str"', UNKNOWN), ("true", UNKNOWN), ("null", UNKNOWN),
    ("[]", UNKNOWN), ("[1,2]", UNKNOWN), ("[" + _obj(_HB) + "]", UNKNOWN),
    ("{}", UNKNOWN),
    (_obj(_PRICE), TICK),
    (_obj(_T, _BODY), UNKNOWN),            # no "type": the discriminator is null
    # heartbeat time: missing or null fails, any other JSON value is text
    ('{"type":"HEARTBEAT"}', UNKNOWN),
    ('{"type":"HEARTBEAT","time":null}', UNKNOWN),
    ('{"type":"HEARTBEAT","time":5}', BEAT),
    ('{"type":"HEARTBEAT","time":{"a":1}}', BEAT),
    (_obj(_HB), BEAT),
    (_obj(_HB.replace("HEARTBEAT", "heartbeat")), UNKNOWN),
    # price-tick field validation
    (_price('"instrument":"EUR_USD"', '"instrument":null'), UNKNOWN),
    (_price('"instrument":"EUR_USD"', '"instrument":7'), TICK),
    (_price('"bids":[{"price":"1.0","liquidity":5}]', '"bids":"oops"'), UNKNOWN),
    (_price('"liquidity":5', '"liquidity":"many"'), TICK),
    (_price('"closeoutBid":"1.0"', '"closeoutBid":1.0'), TICK),
    (_price('"status":"tradeable"', '"status":null'), UNKNOWN),
    (_price('"asks":[]', '"asks":null'), UNKNOWN),
    (_price('"type":"PRICE"', '"type":null'), UNKNOWN),
    (_price('"type":"PRICE"', '"type":5'), TICK),
    # type HEARTBEAT wins over price fields, valid or not
    (_obj(_HB, _BODY), BEAT),
    (_obj(_HB, '"bids":"oops"'), BEAT),
    (_obj(_HB, '"instrument":{"x":1}'), BEAT),
    # trailing garbage after the first value is ignored
    (_obj(_PRICE) + " garbage", TICK),
    (_obj(_HB) + " x", BEAT),
    (_obj(_PRICE) + _obj(_HB), TICK),
    # duplicate keys: the last value wins
    (_obj(_PRICE, '"instrument":"USD_JPY"'), TICK),
    (_obj(_HB, _T.replace("09:15:01", "09:15:02")), BEAT),
    (_obj(_PRICE, '"type":"HEARTBEAT"'), BEAT),                       # was TICK
    ('{"type":"PRICE","type":"HEARTBEAT",' + _T + '}', BEAT),         # was UNKNOWN
    (_obj(_HB, '"type":"PRICE"'), UNKNOWN),                           # was BEAT
    # single quotes are accepted; a trailing comma is not JSON
    (_obj(_HB).replace('"', "'"), BEAT),
    (_obj(_PRICE).replace('"', "'"), TICK),
    (_obj(_PRICE)[:-1] + ",}", None),
    (_obj(_HB)[:-1] + ",}", None),
    ('{"weird": true}', UNKNOWN),
    ("{not json", None),
    (_obj(_PRICE)[:-1], None),
]


def test_routing_golden_table(spark):
    from oanda_stream_processor_spark.functions.ticks import route
    lines = [line for line, _ in ROUTING_GOLDEN]
    assert len(set(lines)) == len(lines)
    df = spark.createDataFrame([(line,) for line in lines], "value string")
    got = {r.raw: (r.message_type, r.price_tick is None, r.heartbeat is None)
           for r in route(df).collect()}
    assert [(line, got.get(line)) for line in lines] == ROUTING_GOLDEN


# py4j round trips that build the streaming chain and its encode frame
# (warm, this thread): 1202 when the chain was Column-API calls, 108 as
# SQL text.  Twice the SQL-text count, so one more expression passes and
# a return to per-field Column calls does not.
CHAIN_BUILD_ROUND_TRIPS = 216


def test_chain_build_round_trips(spark, tick_capture, monkeypatch):
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    from oanda_stream_processor_spark.streaming.encode import encode_stream
    from oanda_stream_processor_spark.streaming.pipeline import build_stream

    def build():
        return encode_stream(publishable(build_stream(
            spark, os.path.dirname(tick_capture))))

    build()  # first-use lookups happen once per session
    client = spark.sparkContext._gateway._gateway_client
    send, me, sent = client.send_command, threading.get_ident(), []
    # garbage collection of Python-side handles also sends commands, at
    # times the build does not choose; they are not counted
    release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith(release):
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    build()
    monkeypatch.undo()
    assert len(sent) <= CHAIN_BUILD_ROUND_TRIPS, len(sent)
