"""Tick-pipeline queries over the NDJSON capture fixture, fully
oracle-gated: DuckDB replays the identical line-framing → JSON
validity → routing → derive → format pipeline by reading the capture
as raw lines (`read_csv` with an unused separator) and applying its
JSON/scalar functions — so S2-S5 + P1-P4 semantics (blank-skip,
corrupt-drop, schema-mismatch demotion, 0.0-default spread,
dual-format timestamps, display formats) are value-checked end to
end, not just row-counted. Per-invariant unit checks additionally
live in tests/test_tick_pipeline.py.

These run the reference's whole batch-expressible pipeline
(oanda_client.rs S2-S5 + main.rs P1-P4) end-to-end.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ticks import format_display_time, format_spread, publishable
from ..sources.ndjson import read_ticks

QUERIES: dict = {}
ORACLES: dict = {}

CAPTURE = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "tests", "data", "ticks.ndjson")


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


# DuckDB twin of the routed pipeline: lines -> blank-skip -> json_valid
# -> 3-way discriminator (same null semantics: NULL type fails both the
# heartbeat equality and the NOT-equality arm -> unknown) -> spread with
# try_cast 0.0-default -> timestamp cast (ISO8601, ns truncated to us).
_SQL_ROUTED = f"""
SELECT value,
  CASE
    WHEN json_extract_string(value, '$.type') = 'HEARTBEAT'
         AND json_extract_string(value, '$.time') IS NOT NULL
      THEN 'heartbeat'
    WHEN NOT (json_extract_string(value, '$.type') = 'HEARTBEAT')
         AND json_extract_string(value, '$.instrument') IS NOT NULL
         AND json_extract(value, '$.asks') IS NOT NULL
         AND json_extract(value, '$.bids') IS NOT NULL
         AND json_extract_string(value, '$.closeoutAsk') IS NOT NULL
         AND json_extract_string(value, '$.closeoutBid') IS NOT NULL
         AND json_extract_string(value, '$.status') IS NOT NULL
         AND json_extract_string(value, '$.time') IS NOT NULL
      THEN 'price_tick'
    ELSE 'unknown' END AS message_type,
  json_extract_string(value, '$.instrument') AS instrument,
  COALESCE(TRY_CAST(json_extract_string(value, '$.closeoutAsk') AS DOUBLE), 0.0)
    - COALESCE(TRY_CAST(json_extract_string(value, '$.closeoutBid') AS DOUBLE), 0.0)
    AS raw_spread,
  TRY_CAST(json_extract_string(value, '$.time') AS TIMESTAMP) AS event_ts
FROM (
  SELECT value FROM read_csv('{CAPTURE}', sep=chr(1), header=false,
                             quote='', columns={{'value': 'VARCHAR'}})
  WHERE LENGTH(TRIM(value)) > 0 AND json_valid(value))
"""


@query("q60_tick_pipeline", f"""
WITH routed AS ({_SQL_ROUTED})
SELECT message_type,
       CASE WHEN message_type = 'price_tick' THEN instrument END AS instrument,
       CASE WHEN message_type = 'price_tick' THEN raw_spread END AS spread,
       CASE WHEN message_type = 'price_tick'
            THEN printf('%.5f', raw_spread) END AS spread_display,
       strftime(event_ts, '%Y-%m-%d %H:%M:%S') AS time_display
FROM routed WHERE message_type <> 'unknown'
""")
def q60_tick_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse → route → derive → format, publishable rows only (Unknown
    retained upstream but excluded at the sink boundary, main.rs:117-119)."""
    df = read_ticks(spark, CAPTURE)
    return publishable(df).select(
        "message_type",
        F.col("price_tick.instrument").alias("instrument"),
        F.col("spread"),
        format_spread("spread").alias("spread_display"),
        format_display_time("event_ts").alias("time_display"),
    )


@query("q61_tick_spread_stats", f"""
WITH routed AS ({_SQL_ROUTED})
SELECT instrument,
       COUNT(*) AS n_ticks,
       ROUND(AVG(raw_spread), 6) AS avg_spread,
       ROUND(MIN(raw_spread), 6) AS min_spread,
       ROUND(MAX(raw_spread), 6) AS max_spread
FROM routed WHERE message_type = 'price_tick'
GROUP BY instrument
""")
def q61_tick_spread_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-instrument spread analytics — the minimum end-to-end slice of
    SURVEY.md §7 (source→parse→validate→derive→aggregate)."""
    df = read_ticks(spark, CAPTURE)
    ticks = df.where(F.col("message_type") == "price_tick")
    return (ticks.groupBy(F.col("price_tick.instrument").alias("instrument"))
                 .agg(F.count("*").alias("n_ticks"),
                      F.round(F.avg("spread"), 6).alias("avg_spread"),
                      F.round(F.min("spread"), 6).alias("min_spread"),
                      F.round(F.max("spread"), 6).alias("max_spread")))
