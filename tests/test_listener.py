from __future__ import annotations

import logging
import uuid

from oanda_stream_processor_spark.streaming.listener import PipelineListener
from oanda_stream_processor_spark.streaming.pipeline import build_stream


def test_listener_counts_lifecycle(spark, tick_capture, caplog):
    caplog.set_level(logging.INFO, logger="oanda_stream_processor_spark")
    listener = PipelineListener()
    spark.streams.addListener(listener)
    try:
        name = f"t{uuid.uuid4().hex[:8]}"
        q = (build_stream(spark, tick_capture).select("message_type")
             .writeStream.format("memory").queryName(name)
             .trigger(availableNow=True).start())
        q.processAllAvailable()
        q.stop()
        # listener events dispatch on a separate thread — poll briefly
        import time
        for _ in range(100):
            if listener.started and listener.progressed and listener.terminated:
                break
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert listener.started >= 1
    assert listener.progressed >= 1
    assert listener.errors == []
    # progress lines carry the trigger's per-phase duration breakdown
    progress = [r.getMessage() for r in caplog.records
                if r.getMessage().startswith("progress ")]
    assert progress and all("durationMs=" in m for m in progress)
    assert any("'addBatch':" in m for m in progress)


def test_streaming_observed_metrics(spark, tick_capture):
    from oanda_stream_processor_spark.streaming.listener import (
        MetricsListener, observe_ticks)
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        name = f"t{uuid.uuid4().hex[:8]}"
        q = (observe_ticks(build_stream(spark, tick_capture))
             .writeStream.format("memory").queryName(name)
             .trigger(availableNow=True).start())
        q.processAllAvailable()
        q.stop()
        import time
        for _ in range(100):
            if "tick_metrics" in listener.metrics:
                break
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    m = listener.metrics["tick_metrics"]
    sunk = spark.table(name).count()
    assert m["n_rows"] == sunk > 0
    assert (m["n_ticks"] + m["n_heartbeats"] + m["n_unknown"]) == m["n_rows"]
    assert 0 <= m["n_zero_spread"] <= m["n_ticks"]
    assert 0 <= m["n_null_event_ts"] <= m["n_ticks"]


def test_batch_observation_matches_direct_agg(spark, tick_capture):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from oanda_stream_processor_spark.functions.ticks import (
        derive_tick_columns, nonblank_lines, route)
    from oanda_stream_processor_spark.sources.ndjson import read_tick_lines
    from oanda_stream_processor_spark.streaming.listener import observe_ticks

    frame = derive_tick_columns(route(nonblank_lines(
        read_tick_lines(spark, tick_capture, streaming=False))))
    obs = Observation("tick_metrics")
    observed = frame.observe(
        obs, F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("message_type") == "price_tick", 1))
            .alias("n_ticks"))
    n = observed.count()  # single action computes data AND metrics
    truth = frame.groupBy().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("message_type") == "price_tick", 1))
            .alias("n_ticks")).first()
    assert obs.get["n_rows"] == truth["n_rows"] == n
    assert obs.get["n_ticks"] == truth["n_ticks"]
    # the streaming helper builds on the same frame without error
    assert observe_ticks(frame).columns == frame.columns
