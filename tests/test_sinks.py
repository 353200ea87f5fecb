"""Publish edges: the single driver-side edge keeps the bytes and the
arrival order of the frames; the partitioned edge encodes and publishes
in one Python pass per partition and always closes its publisher."""

from __future__ import annotations

import glob
import hashlib

import pytest
from pyspark.sql import types as T

from oanda_stream_processor_spark.proto.wire_decode import (
    decode_stream_message, iter_frames)
from oanda_stream_processor_spark.schemas import HEARTBEAT, PRICE_TICK
from oanda_stream_processor_spark.sources.ndjson import read_ticks
from oanda_stream_processor_spark.streaming.sinks import (
    FilePublisher, PartitionedFilePublisherFactory, publish_batch,
    publish_batch_partitioned)
from perfbench import tickgen

# tickgen.write_capture(path, seed=7, n=2000, start_ns=CAPTURE_NS): the
# frame file the single edge wrote for it before the one-parse route,
# the table-served varints and the prefetching drain
CAPTURE_NS = 1_790_000_000 * 10**9
SINGLE_FRAMES = 1920
SINGLE_FILE_BYTES = 192_460
SINGLE_SHA256 = "8ac13c846b7e594d71ac0942cfb483f3b9afc219330d7fa9c984a083c3cbbbd7"


@pytest.fixture()
def seeded_capture(tmp_path) -> str:
    path = str(tmp_path / "capture.ndjson")
    tickgen.write_capture(path, 7, 2000, CAPTURE_NS)
    return path


def test_single_edge_frames_byte_and_order_identical(spark, seeded_capture, tmp_path):
    out = tmp_path / "frames.bin"
    pub = FilePublisher(str(out))
    try:
        n = publish_batch(read_ticks(spark, seeded_capture), pub)
    finally:
        pub.close()
    data = out.read_bytes()
    assert n == SINGLE_FRAMES
    assert len(data) == SINGLE_FILE_BYTES
    assert hashlib.sha256(data).hexdigest() == SINGLE_SHA256


def test_partitioned_edge_publishes_the_same_frames(spark, seeded_capture, tmp_path):
    single = tmp_path / "single.bin"
    pub = FilePublisher(str(single))
    try:
        publish_batch(read_ticks(spark, seeded_capture), pub)
    finally:
        pub.close()
    base = str(tmp_path / "part.bin")
    n = publish_batch_partitioned(read_ticks(spark, seeded_capture),
                                  PartitionedFilePublisherFactory(base))
    parts = glob.glob(base + ".*")
    frames = [f for p in parts for f in iter_frames(open(p, "rb").read())]
    assert n == len(frames) == SINGLE_FRAMES
    assert len(parts) == spark.sparkContext.defaultParallelism
    assert sorted(frames) == sorted(iter_frames(single.read_bytes()))


def test_partitioned_edge_closes_publisher_when_encode_raises(spark, tmp_path):
    marks = tmp_path / "marks"
    marks.mkdir()

    class MarkingPublisher:
        def __init__(self, stem: str):
            self.stem = stem
            open(stem + ".opened", "w").close()

        def publish(self, payload: bytes) -> None:
            pass

        def close(self) -> None:
            open(self.stem + ".closed", "w").close()

    class MarkingFactory:
        def __init__(self, directory: str):
            self.directory = directory

        def __call__(self):
            import uuid
            return MarkingPublisher(f"{self.directory}/{uuid.uuid4().hex}")

    # a price_tick row without its struct: the encoder raises on it
    schema = T.StructType([
        T.StructField("message_type", T.StringType()),
        T.StructField("price_tick", PRICE_TICK),
        T.StructField("heartbeat", HEARTBEAT),
        T.StructField("event_ts", T.TimestampType()),
    ])
    bad = spark.createDataFrame([("price_tick", None, None, None)], schema)
    with pytest.raises(Exception, match="NoneType"):
        publish_batch_partitioned(bad, MarkingFactory(str(marks)))

    def stems(suffix: str) -> set:
        return {p.stem for p in marks.glob("*" + suffix)}

    # the raising partition opened its publisher before encoding, and
    # every publisher opened was closed
    assert stems(".opened")
    assert stems(".closed") == stems(".opened")


def test_null_ladder_element_publishes_an_empty_level(spark, tmp_path):
    # from_json nulls a bad array element (the documented PriceLevel
    # divergence); the frame carries it as an all-default level
    src = tmp_path / "null_level.ndjson"
    src.write_text(
        '{"type":"PRICE","time":"2026-08-13T00:00:01Z","instrument":"X_Y",'
        '"status":"t","closeoutBid":"1.0","closeoutAsk":"1.1",'
        '"bids":[null,{"price":"1.0","liquidity":5}],"asks":[]}\n')
    out = tmp_path / "frames.bin"
    pub = FilePublisher(str(out))
    try:
        assert publish_batch(read_ticks(spark, str(src)), pub) == 1
    finally:
        pub.close()
    [frame] = iter_frames(out.read_bytes())
    kind, tick = decode_stream_message(frame)
    assert kind == "price_tick"
    assert tick["bids"] == [("", 0), ("1.0", 5)] and tick["asks"] == []
