"""Streaming windowed aggregates over the tick stream — the operators
the reference lacks (SURVEY.md §2.2 'Streaming windows' / 'watermark'):
tumbling/sliding OHLC candles, session windows, and streaming dedup,
all with event-time watermarks for late data.

OHLC open/close use min_by/max_by over (ts, tie-break) — streaming-safe
aggregates (no window functions in streaming), map-side combinable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mid_price(df: DataFrame) -> DataFrame:
    """Mid price from the closeout quotes (0.0-default cast semantics,
    main.rs:70-72)."""
    from ..functions.ticks import price_as_double
    return (df.where(F.col("message_type") == "price_tick")
              .select(F.col("price_tick.instrument").alias("instrument"),
                      F.col("event_ts"),
                      ((price_as_double("price_tick.closeoutAsk")
                        + price_as_double("price_tick.closeoutBid")) / 2).alias("mid"),
                      F.col("spread")))


def ohlc_candles(ticks: DataFrame, *, width: str = "1 minute",
                 slide: str | None = None,
                 watermark: str = "30 seconds") -> DataFrame:
    """Tumbling (or sliding, if `slide` given) OHLC candles per
    instrument. Works on batch or streaming frames; with streaming
    input, append output is emitted once the watermark passes window
    end."""
    priced = _mid_price(ticks)
    if priced.isStreaming:
        priced = priced.withWatermark("event_ts", watermark)
    win = (F.window("event_ts", width, slide) if slide
           else F.window("event_ts", width))
    key = F.struct("event_ts", "mid")
    return (priced.groupBy(win.alias("w"), "instrument")
            .agg(F.min_by("mid", key).alias("open"),
                 F.max_by("mid", key).alias("close"),
                 F.max("mid").alias("high"),
                 F.min("mid").alias("low"),
                 F.count("*").alias("n_ticks"),
                 F.round(F.avg("spread"), 6).alias("avg_spread"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "instrument", "open", "high", "low", "close",
                    "n_ticks", "avg_spread"))


def session_windows(ticks: DataFrame, *, gap: str = "30 seconds",
                    watermark: str = "30 seconds") -> DataFrame:
    """Activity sessions per instrument (session_window gap-merge)."""
    priced = _mid_price(ticks)
    if priced.isStreaming:
        priced = priced.withWatermark("event_ts", watermark)
    return (priced.groupBy(F.session_window("event_ts", gap).alias("w"),
                           "instrument")
            .agg(F.count("*").alias("n_ticks"))
            .select(F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "instrument", "n_ticks"))


def dedup_ticks(ticks: DataFrame, *, watermark: str = "30 seconds") -> DataFrame:
    """Streaming exact dedup on (instrument, event_ts) with bounded
    state: dropDuplicates within the watermark horizon."""
    df = ticks.where(F.col("message_type") == "price_tick").select(
        F.col("price_tick.instrument").alias("instrument"),
        "event_ts", "spread")
    if df.isStreaming:
        df = df.withWatermark("event_ts", watermark)
        return df.dropDuplicatesWithinWatermark(["instrument", "event_ts"])
    return df.dropDuplicates(["instrument", "event_ts"])


def top_of_book(ticks: DataFrame, *, watermark: str = "1 minute") -> DataFrame:
    """Keep-latest quote per instrument (streaming top-of-book): max over
    (event_ts, mid, spread) structs — streaming-safe aggregate, state is
    one struct per instrument. Update-mode output gives the live book;
    batch input gives the final book."""
    priced = _mid_price(ticks)
    if priced.isStreaming:
        priced = priced.withWatermark("event_ts", watermark)
    key = F.struct("event_ts", "mid", "spread")
    latest = F.max(key)
    return (priced.groupBy("instrument")
            .agg(latest["event_ts"].alias("last_ts"),
                 latest["mid"].alias("last_mid"),
                 latest["spread"].alias("last_spread"),
                 F.count("*").alias("n_ticks")))


def ticks_near_heartbeats(stream: DataFrame, *, window_sec: int = 10,
                          watermark: str = "1 minute") -> DataFrame:
    """Stream-stream event-time join (SURVEY.md §2.2 'Joins'): each tick
    joined to heartbeats observed within ``window_sec`` AFTER it — the
    liveness attestation the reference's heartbeat carries but never
    uses. Both sides are watermarked so join state is bounded; the time
    condition bounds how long a tick waits for a matching heartbeat."""
    width_us = window_sec * 1_000_000
    # stream-stream joins require an equality predicate: bucketize time
    # to the window width and explode the tick side to its two candidate
    # buckets (same rewrite as the batch range join, q29) — the equi-key
    # also keeps join state hash-partitioned instead of broadcast.
    ticks = (stream.where(F.col("message_type") == "price_tick")
             .select(F.col("price_tick.instrument").alias("instrument"),
                     F.col("event_ts").alias("tick_ts"),
                     F.col("spread"),
                     F.explode(F.array(
                         F.floor(F.unix_micros("event_ts") / width_us),
                         F.floor(F.unix_micros("event_ts") / width_us) + 1))
                      .alias("bucket")))
    beats = (stream.where(F.col("message_type") == "heartbeat")
             .select(F.col("event_ts").alias("hb_ts"),
                     F.floor(F.unix_micros("event_ts") / width_us).alias("bucket")))
    if stream.isStreaming:
        ticks = ticks.withWatermark("tick_ts", watermark)
        beats = beats.withWatermark("hb_ts", watermark)
    cond = ((F.col("hb_ts") >= F.col("tick_ts"))
            & (F.col("hb_ts") <= F.col("tick_ts")
               + F.expr(f"INTERVAL {window_sec} SECONDS")))
    return (ticks.join(beats, ["bucket"], "inner")
            .where(cond)
            .select("instrument", "tick_ts", "hb_ts", "spread",
                    (F.unix_micros("hb_ts") - F.unix_micros("tick_ts"))
                    .alias("lag_us")))
