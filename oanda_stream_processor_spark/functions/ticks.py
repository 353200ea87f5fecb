"""Tick-pipeline expressions (reference parity, P1-P4 + S3-S5).

The chain is Spark SQL text, built once at import from ``schemas.py``:
``nonblank_lines``, ``route``, ``derive_tick_columns`` and ``publishable``
hand these strings to ``where``/``selectExpr``.  Each Column-API call is
a py4j round trip from the Python driver to the JVM: built from them,
the streaming chain plus its encode frame took 1,202 round trips
(0.32 s on a 4-vCPU host), paid again at every stream start and the
encode part at every micro-batch.  A SQL string is parsed by the JVM
in one call, and the same build takes 108 round trips (0.15 s).  The
public helpers below (``price_as_double``, ``spread``, ...) are
``F.expr`` wrappers over the same fragments, so no rule is written out
twice.  They take SQL expression text, e.g. ``"price_tick.closeoutAsk"``.

``from_json`` and ``get_json_object`` do not run in whole-stage codegen
(they fall back to interpreted evaluation), so the parse is the chain's
dominant per-row cost and the rule is ONE parse per line: ``route``
parses into a single envelope struct and derives ``message_type``,
``price_tick`` and ``heartbeat`` from it, and
``get_json_object(value, '$')`` survives only as the exact "is JSON"
test.  The envelope's ``from_json`` carries an explicit (default) option
because Catalyst's OptimizeCsvJsonExprs rewrites an option-less
``from_json`` into one single-field parse per extracted field — and a
filter pushed below route's projection (``publishable``) copies every
one of them.

Semantic invariants reproduced (SURVEY.md §2.1):
  * blank lines skipped            (oanda_client.rs:51-53)
  * malformed JSON dropped         (oanda_client.rs:57-60)
  * schema-mismatch kept Unknown   (oanda_client.rs:64-82)
  * spread uses unwrap_or(0.0)     (main.rs:70-72) — unparseable price
    contributes 0.0, NOT null
  * dual-format timestamp parse    (main.rs:140-151), RFC3339 preferred
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import HEARTBEAT, PRICE_TICK, TICK_ENVELOPE

# -- scalar rules (SQL fragments over SQL expression text) ------------------


def _price_as_double(sql: str) -> str:
    return f"coalesce(try_cast({sql} AS DOUBLE), 0.0D)"


def _spread(closeout_ask: str, closeout_bid: str) -> str:
    return f"{_price_as_double(closeout_ask)} - {_price_as_double(closeout_bid)}"


def _event_time(sql: str) -> str:
    # RFC3339 first (with offset or Z), then the fractional-Z fallback
    return (f"coalesce(try_to_timestamp({sql}), try_to_timestamp({sql}, "
            "\"yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS]'Z'\"))")


def price_as_double(sql: str) -> Column:
    """Reference String→f64 with unwrap_or(0.0) (main.rs:70-71):
    unparseable decimals become 0.0, never null."""
    return F.expr(_price_as_double(sql))


def spread(closeout_ask: str, closeout_bid: str) -> Column:
    """P1: spread = closeout_ask − closeout_bid under 0.0-default casts
    (main.rs:70-72)."""
    return F.expr(_spread(closeout_ask, closeout_bid))


def parse_event_time(sql: str) -> Column:
    """P2: dual-format timestamp parse (main.rs:140-151).

    RFC3339 preferred, fallback ``%Y-%m-%dT%H:%M:%S%.fZ``. Spark timestamps
    are μs precision; the reference carries ns (main.rs:149) — the ns→μs
    truncation is documented, not fought (SURVEY.md §7 hard-part 3).
    """
    return F.expr(_event_time(sql))


def format_display_time(sql: str) -> Column:
    """P3: '%Y-%m-%d %H:%M:%S' display format (main.rs:81,103)."""
    return F.expr(f"date_format({sql}, 'yyyy-MM-dd HH:mm:ss')")


def format_spread(sql: str) -> Column:
    """P4: 5-decimal display formatting of the spread (main.rs:84)."""
    return F.expr(f"format_number({sql}, 5)")


# -- the chain ----------------------------------------------------------------

_NONBLANK = "length(trim(value)) > 0"

# get_json_object returns null for non-JSON input: the exact malformed-line
# drop (from_json gives all-null fields both for a malformed line and for
# valid JSON such as {} or 123).
_IS_JSON = "get_json_object(value, '$') IS NOT NULL"

# ONE parse per line into the envelope; every field below reads it.  The
# explicit (default) mode matters: OptimizeCsvJsonExprs splits a from_json
# whose options map is empty into one single-field parse per extracted
# field, and it leaves a non-empty map alone.
_PARSE = (f"from_json(value, '{TICK_ENVELOPE.simpleString()}', "
          "map('mode', 'PERMISSIVE')) AS env")

# from_json yields null for a missing or type-mismatched field — the
# closest Spark analog of a serde deserialization failure.
_PRICE_TICK_VALID = " AND ".join(f"env.{f.name} IS NOT NULL" for f in PRICE_TICK)
_MESSAGE_TYPE = (
    "CASE WHEN env.type = 'HEARTBEAT' AND env.time IS NOT NULL THEN 'heartbeat'"
    f" WHEN NOT (env.type = 'HEARTBEAT') AND {_PRICE_TICK_VALID} THEN 'price_tick'"
    " ELSE 'unknown' END AS message_type")


def _when_routed(message_type: str, fields) -> str:
    struct = ", ".join(f"'{f.name}', env.{f.name}" for f in fields)
    return (f"CASE WHEN message_type = '{message_type}' "
            f"THEN named_struct({struct}) END AS {message_type}")


_ROUTED = ("message_type", _when_routed("price_tick", PRICE_TICK),
           _when_routed("heartbeat", HEARTBEAT), "raw")

_DERIVED = (
    "*",
    "CASE WHEN message_type = 'price_tick' THEN "
    f"{_spread('price_tick.closeoutAsk', 'price_tick.closeoutBid')} END AS spread",
    _event_time("CASE WHEN message_type = 'price_tick' THEN price_tick.time"
                " WHEN message_type = 'heartbeat' THEN heartbeat.time END")
    + " AS event_ts")

_PUBLISHABLE = "message_type IN ('price_tick', 'heartbeat')"


def nonblank_lines(df: DataFrame) -> DataFrame:
    """S2: skip blank/whitespace-only lines (OANDA keep-alives) of the
    line column ``value``."""
    return df.where(_NONBLANK)


def route(df: DataFrame) -> DataFrame:
    """S3-S5: parse, discriminate, validate — one wide row per ``value``
    line.

    Routing rules are the reference's 3-way dispatch
    (oanda_client.rs:63-82): ``type=="HEARTBEAT"`` → heartbeat; has an
    ``instrument`` key → price_tick; valid JSON otherwise → unknown
    (retained); non-JSON → dropped. A discriminator match whose payload
    fails validation — any serde-required field (models.rs:10-27: all
    seven PriceTick fields, Heartbeat.time) absent or type-mismatched —
    is demoted to unknown, mirroring the reference's serde-failure
    fallback (oanda_client.rs:66-78). Element-level PriceLevel
    validation is not enforced (documented divergence: from_json nulls
    a bad array element's field where serde rejects the whole message).
    """
    return (df.where(_IS_JSON)  # S3: malformed JSON dropped
              .selectExpr(_PARSE, "value AS raw")
              .selectExpr(_MESSAGE_TYPE, "env", "raw")
              .selectExpr(*_ROUTED))


def derive_tick_columns(df: DataFrame) -> DataFrame:
    """P1-P3 applied to the routed wide frame: adds spread/event_ts columns
    (null for non-tick rows), preserving heartbeats as data rows
    (invariant 5: heartbeats are data, not control — main.rs:95-116)."""
    return df.selectExpr(*_DERIVED)


def publishable(df: DataFrame) -> DataFrame:
    """Sink-boundary filter: Unknown is retained in-engine but NEVER
    published (main.rs:117-119; proto oneof is closed,
    proto/oanda_stream.proto:27-32)."""
    return df.where(_PUBLISHABLE)
