"""Property-based tests (hypothesis): proto wire encoder and tick
semantics hold for arbitrary inputs, not just the fixture lines."""

from __future__ import annotations

import json

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from oanda_stream_processor_spark.proto import wire
from oanda_stream_processor_spark.proto.wire_decode import decode_stream_message
from oanda_stream_processor_spark.streaming.encode import encode_payloads
from tests.test_proto import decode_fields, read_varint

prices = st.one_of(
    st.just(""),
    st.from_regex(r"[0-9]{1,5}\.[0-9]{1,6}", fullmatch=True),
    st.just("N/A"))
liquidity = st.integers(min_value=0, max_value=2**63 - 1)
texts = st.text(alphabet=st.characters(codec="utf-8",
                                       exclude_characters="\x00"),
                max_size=40)


@given(st.integers(min_value=0, max_value=2**64 - 1))
def test_varint_roundtrip_any_u64(n):
    v, i = read_varint(wire._varint(n), 0)
    assert v == n and i == len(wire._varint(n))


@given(prices, liquidity)
def test_price_level_roundtrip(price, liq):
    fields = decode_fields(wire.encode_price_level(price, liq))
    got = {f: v for f, _, v in fields}
    # proto3 omits defaults: absent field == default value
    assert got.get(1, b"").decode() == price
    assert got.get(2, 0) == liq


@settings(max_examples=50)
@given(st.lists(st.tuples(prices, liquidity), max_size=5),
       st.lists(st.tuples(prices, liquidity), max_size=5),
       prices, prices, texts, texts,
       st.integers(min_value=0, max_value=2**32), st.integers(0, 999_999_999))
def test_price_tick_structure(asks, bids, ca, cb, instr, status, secs, nanos):
    b = wire.encode_price_tick(asks, bids, ca, cb, instr, status, secs, nanos)
    by_field: dict[int, list] = {}
    for f, _, v in decode_fields(b):
        by_field.setdefault(f, []).append(v)
    assert len(by_field.get(1, [])) == len(asks)   # repeated keeps count
    assert len(by_field.get(2, [])) == len(bids)
    assert set(by_field) <= {1, 2, 3, 4, 5, 6, 7}  # closed field set
    env = decode_fields(wire.encode_stream_message("price_tick", b))
    assert [f for f, _, _ in env] == [1]           # oneof: exactly one branch


# --- flat-column encoder (streaming.encode.encode_payloads) ---------------
# One Arrow batch of encode_columns rows must decode, through the
# independent proto/wire_decode, back to its inputs in row order: null
# ladder entries and empty strings read back as proto3 defaults, a
# 128-byte string needs a 2-byte length varint, and a pre-epoch second
# folds back negative.

FLAT_SCHEMA = pa.schema([
    ("message_type", pa.string()),
    ("ask_prices", pa.list_(pa.string())),
    ("ask_liquidity", pa.list_(pa.int64())),
    ("bid_prices", pa.list_(pa.string())),
    ("bid_liquidity", pa.list_(pa.int64())),
    ("closeout_ask", pa.string()),
    ("closeout_bid", pa.string()),
    ("instrument", pa.string()),
    ("status", pa.string()),
    ("heartbeat_type", pa.string()),
    ("ts_seconds", pa.int64()),
    ("ts_nanos", pa.int32()),
])
wire_text = st.one_of(
    st.none(), st.just(""), texts,
    st.text(alphabet=st.characters(codec="utf-8"), min_size=128, max_size=140))
wire_liquidity = st.one_of(st.none(), st.just(0), liquidity)
ladder = st.lists(st.tuples(wire_text, wire_liquidity), max_size=3)
timestamps = st.one_of(
    st.tuples(st.none(), st.none()),
    st.tuples(st.integers(-(2**40), 2**40),
              st.sampled_from([0, 999_999_000]) | st.integers(0, 999_999).map(
                  lambda us: us * 1000)))
tick_rows = st.builds(
    lambda asks, bids, strs, ts: {
        "message_type": "price_tick",
        "ask_prices": [p for p, _ in asks], "ask_liquidity": [q for _, q in asks],
        "bid_prices": [p for p, _ in bids], "bid_liquidity": [q for _, q in bids],
        **dict(zip(("closeout_ask", "closeout_bid", "instrument", "status"), strs)),
        "heartbeat_type": None, "ts_seconds": ts[0], "ts_nanos": ts[1]},
    ladder, ladder, st.tuples(wire_text, wire_text, wire_text, wire_text),
    timestamps)
beat_rows = st.builds(
    lambda hb_type, ts: {
        "message_type": "heartbeat", "heartbeat_type": hb_type,
        "ts_seconds": ts[0], "ts_nanos": ts[1]},
    wire_text, timestamps)


def _flat_batch(rows) -> pa.RecordBatch:
    return pa.RecordBatch.from_pylist(rows, schema=FLAT_SCHEMA)


def _expected(row) -> tuple[str, dict]:
    ts = (None, None) if row["ts_seconds"] is None else (row["ts_seconds"],
                                                         row["ts_nanos"])
    if row["message_type"] == "heartbeat":
        return "heartbeat", {"ts_seconds": ts[0], "ts_nanos": ts[1],
                             "type": row["heartbeat_type"] or ""}

    def levels(prices, amounts):
        return [(p or "", q or 0) for p, q in zip(prices, amounts)]

    return "price_tick", {
        "asks": levels(row["ask_prices"], row["ask_liquidity"]),
        "bids": levels(row["bid_prices"], row["bid_liquidity"]),
        **{k: row[k] or "" for k in ("closeout_ask", "closeout_bid",
                                     "instrument", "status")},
        "ts_seconds": ts[0], "ts_nanos": ts[1]}


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(tick_rows, beat_rows), max_size=8))
def test_flat_encoder_round_trips_in_row_order(rows):
    payloads = encode_payloads(_flat_batch(rows))
    assert [decode_stream_message(p) for p in payloads] == [
        _expected(r) for r in rows]


def test_flat_encoder_rejects_a_tick_without_its_struct():
    # a price_tick row whose price_tick struct is null flattens to nulls
    with pytest.raises(TypeError, match="NoneType"):
        encode_payloads(_flat_batch([{"message_type": "price_tick"}]))


@settings(max_examples=25, deadline=None)
@given(st.lists(st.sampled_from([
    "",                                     # blank -> skipped
    "{not json",                            # corrupt -> dropped
    '{"weird": true}',                      # unknown -> retained
    '{"type":"HEARTBEAT","time":"2026-08-13T00:00:00Z"}',
    '{"type":"PRICE","time":"2026-08-13T00:00:01Z","instrument":"X_Y",'
    '"status":"t","closeoutBid":"1.0","closeoutAsk":"1.1","bids":[],"asks":[]}',
    "{}",                                   # empty object -> unknown
    '{"type":"HEARTBEAT","time":5}',        # non-string time reads as text
    '{"type":"HEARTBEAT","time":{"a":1}}',
    '{"type":"PRICE","time":"2026-08-13T00:00:02Z","instrument":"X_Y",'
    '"status":"t","closeoutBid":1.0,"closeoutAsk":"1.1","bids":[],'
    '"asks":[{"price":"1.1","liquidity":"many"}]}',  # numeric bid, bad liquidity
    '{"type":"HEARTBEAT","time":"2026-08-13T00:00:03Z","instrument":"X_Y",'
    '"status":"t","closeoutBid":"1.0","closeoutAsk":"1.1","bids":[],"asks":[]}',
    '{"type":"PRICE","time":"2026-08-13T00:00:04Z","instrument":"X_Y",'
    '"status":"t","closeoutBid":"1.0","closeoutAsk":"1.1","bids":[],"asks":[],'
    '"type":"HEARTBEAT"}',                  # duplicate key: last wins
    '{"type":"HEARTBEAT","time":"2026-08-13T00:00:05Z",}',  # trailing comma
]), min_size=1, max_size=12))
def test_routing_partition_invariant(spark, tmp_path_factory, lines):
    """For ANY mix of line kinds: rows out == non-blank valid-JSON lines,
    and each line lands in exactly the right route."""
    from oanda_stream_processor_spark.sources.ndjson import read_ticks
    p = tmp_path_factory.mktemp("prop") / "cap.ndjson"
    p.write_text("\n".join(lines) + "\n")
    df = read_ticks(spark, str(p)).groupBy("message_type").count()
    got = {r.message_type: r["count"] for r in df.collect()}
    want = {"heartbeat": 0, "price_tick": 0, "unknown": 0}
    for line in lines:
        if not line.strip():
            continue
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if obj.get("type") == "HEARTBEAT":
            want["heartbeat"] += 1
        elif "instrument" in obj:
            want["price_tick"] += 1
        else:
            want["unknown"] += 1
    assert got == {k: v for k, v in want.items() if v}


# --- count-min sketch arithmetic (q132 / streaming.sketch) ----------------
# Pure-python mirror of the engine's integer hash/bucket math; the Spark
# plan itself is covered by the oracle + streaming tests. Properties:
# estimates never underestimate, and sketches merge linearly (the basis
# of the streaming partial-state design).

from collections import Counter

from oanda_stream_processor_spark.operators.textops import (
    CMS_D, CMS_W, _CMS_AFFINE, HASH_BASE, HASH_MOD)

ascii_tokens = st.lists(
    st.text(alphabet="abcdefghij", min_size=1, max_size=6),
    min_size=1, max_size=60)


def _tok_hash(t: str) -> int:
    acc = 0
    for ch in t:
        acc = (acc * HASH_BASE + ord(ch)) % HASH_MOD
    return acc


def _cms(tokens) -> Counter:
    cells: Counter = Counter()
    for t, c in Counter(tokens).items():
        th = _tok_hash(t)
        for d, (a, b) in enumerate(_CMS_AFFINE):
            cells[(d, ((th * a + b) % HASH_MOD) % CMS_W)] += c
    return cells


def _estimate(cells: Counter, token: str) -> int:
    th = _tok_hash(token)
    return min(cells[(d, ((th * a + b) % HASH_MOD) % CMS_W)]
               for d, (a, b) in enumerate(_CMS_AFFINE))


@settings(max_examples=100)
@given(ascii_tokens)
def test_cms_never_underestimates(tokens):
    cells = _cms(tokens)
    truth = Counter(tokens)
    for t, c in truth.items():
        assert _estimate(cells, t) >= c


@settings(max_examples=100)
@given(ascii_tokens, ascii_tokens)
def test_cms_merges_linearly(a, b):
    merged = _cms(a) + _cms(b)
    oneshot = _cms(a + b)
    assert merged == oneshot
    # estimates from the merged sketch still dominate the true counts
    truth = Counter(a + b)
    for t, c in truth.items():
        assert _estimate(merged, t) >= c


# ---------------------------------------------------------------------------
# helpers.exact_tdiv: exact trunc-division on bigint columns at ANY
# magnitude — one batched Spark job over adversarial operands (both
# signs, exactly the >2^53 band where the old double spelling loses a
# unit), compared against Python's exact integers.
# ---------------------------------------------------------------------------
def test_exact_tdiv_matches_python_ints(spark):
    import random

    from oanda_stream_processor_spark.operators.helpers import exact_tdiv
    from pyspark.sql import functions as F

    rng = random.Random(8)
    cases = []
    for _ in range(300):
        mag = rng.choice([10**3, 10**9, 2**53, 2**61])
        a = rng.randrange(-mag, mag) or 1
        b = rng.randrange(1, max(2, abs(a))) * rng.choice([1, -1])
        cases.append((a, b))
    # the documented regression: exactly divisible, numerator > 2^53
    cases += [(128000000000000007, 3), (-128000000000000007, 3),
              (9007199254740993 * 1000, 1000), (2**62, 3), (-(2**62), 3)]

    def py_trunc(a, b):   # trunc toward zero, like % -identity division
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    df = spark.createDataFrame(cases, "a long, b long")
    got = df.select("a", "b",
                    exact_tdiv(F.col("a"), F.col("b")).alias("q")).collect()
    for r in got:
        assert r.q == py_trunc(r.a, r.b), (r.a, r.b, r.q)
