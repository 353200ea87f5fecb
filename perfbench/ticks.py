"""``tick-replay``: closed loop, the catch-up after a restart.  A seeded
capture of ``REPLAY_LINES`` lines is drained to completion through
``streaming.pipeline.run_pipeline`` again and again until the run's window
has passed, alternating the single driver-side publisher and
``sinks.PartitionedFilePublisherFactory``.  Each drain is a fresh stream
with its own checkpoint and one huge micro-batch, so the per-row layers
dominate: route's ``from_json``, the proto encode loop and publish.  A
small warm-up drain comes first; every later drain counts.

Every drain's frames are decoded (``proto.wire_decode``) and matched to the
capture's lines: each publishable line exactly once, nothing else.
"""

from __future__ import annotations

import calendar
import glob
import json
import os
import time

from perfbench import tickgen
from perfbench.harness import median

REPLAY_LINES = 20_000     # lines in the tick-replay capture
WARM_LINES = 2_000        # lines in the warm-up capture
CAPTURE_EPOCH_NS = 1_790_000_000 * 10**9  # synthetic clock origin of captures
LADDER_REPEATS = 2
MODES = ("single", "partitioned")


class TimedPublisher:
    """Driver-side publisher: forwards to ``inner`` and sums the time spent
    inside its ``publish`` calls."""

    def __init__(self, inner):
        self.inner = inner
        self.frames = 0
        self.endpoint_s = 0.0

    def publish(self, payload: bytes) -> None:
        t = time.perf_counter()
        self.inner.publish(payload)
        self.endpoint_s += time.perf_counter() - t
        self.frames += 1

    def close(self) -> None:
        self.inner.close()


# -- output checks -----------------------------------------------------------

def _ns_of(text: str) -> int:
    """RFC3339 ``...SS.fffffffffZ`` -> ns since the epoch."""
    head, frac = text.rstrip("Z").split(".")
    sec = calendar.timegm(time.strptime(head, "%Y-%m-%dT%H:%M:%S"))
    return sec * 10**9 + int(frac.ljust(9, "0")[:9])


def expected_frames(lines) -> dict:
    """Publishable lines keyed as their frames will be: price ticks by
    sequence number, heartbeats by µs timestamp.  Blank, malformed and
    Unknown lines are never published and are not keys."""
    out = {}
    for raw in lines:
        if not raw.strip():
            continue
        try:
            obj = json.loads(raw)
        except ValueError:
            continue
        if not isinstance(obj, dict):
            continue
        if obj.get("type") == "HEARTBEAT" and isinstance(obj.get("time"), str):
            out[("h", _ns_of(obj["time"]) // 1000)] = None
        elif all(k in obj for k in ("asks", "bids", "closeoutAsk", "closeoutBid",
                                    "instrument", "status", "time")):
            seq = obj["bids"][0]["liquidity"] - tickgen.SEQ_LIQUIDITY
            out[("p", seq)] = (obj["instrument"], obj["closeoutBid"],
                               obj["closeoutAsk"], _ns_of(obj["time"]) // 1000)
    return out


def read_source_lines(paths) -> list[str]:
    lines: list[str] = []
    for p in sorted(paths):
        with open(p) as f:
            lines.extend(f.read().splitlines())
    return lines


def check_frames(expected: dict, frames) -> dict:
    """Match decoded frames to expected lines; returns the failure tally."""
    from oanda_stream_processor_spark.proto.wire_decode import decode_stream_message
    seen: dict = {}
    tally = {"expected": len(expected), "frames": 0, "missing": 0,
             "duplicate": 0, "mismatched": 0, "unexpected": 0}
    for msg in frames:
        tally["frames"] += 1
        try:
            kind, p = decode_stream_message(msg)
        except ValueError:
            tally["mismatched"] += 1
            continue
        ts_us = None if p.get("ts_seconds") is None else p["ts_seconds"] * 10**6 + p["ts_nanos"] // 1000
        if kind == "price_tick" and p["bids"]:
            key = ("p", p["bids"][0][1] - tickgen.SEQ_LIQUIDITY)
        elif kind == "heartbeat":
            key = ("h", ts_us)
        else:
            key = None
        if key not in expected:
            tally["unexpected"] += 1
            continue
        seen[key] = seen.get(key, 0) + 1
        if seen[key] > 1:
            tally["duplicate"] += 1
        want = expected[key]
        if want is not None and want != (p["instrument"], p["closeout_bid"],
                                         p["closeout_ask"], ts_us):
            tally["mismatched"] += 1
    tally["missing"] = sum(1 for k in expected if k not in seen)
    tally["failures"] = (tally["missing"] + tally["duplicate"]
                         + tally["mismatched"] + tally["unexpected"])
    return tally


def read_frames(paths) -> list[bytes]:
    from oanda_stream_processor_spark.proto.wire_decode import iter_frames
    frames: list[bytes] = []
    for p in sorted(paths):
        with open(p, "rb") as f:
            frames.extend(iter_frames(f.read()))
    return frames


# -- cut-point ladder (traced runs) -------------------------------------------

def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def cut_ladder(ctx, path: str, label: str) -> dict:
    """Time read -> +route -> +derive -> +encode -> full single publish on one
    input, each into ``noop`` (the best of ``LADDER_REPEATS``, so later rungs
    gain nothing from running warm); successive differences split the layers."""
    from oanda_stream_processor_spark.functions.ticks import (
        derive_tick_columns, nonblank_lines, publishable, route)
    from oanda_stream_processor_spark.sources.ndjson import read_tick_lines
    from oanda_stream_processor_spark.streaming.encode import encode_stream
    from oanda_stream_processor_spark.streaming.sinks import FilePublisher, publish_batch
    spark = ctx.spark

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    rungs = {}
    for name, build in (
            ("sources.scan", lambda: read_tick_lines(spark, path)),
            ("ticks.route", lambda: route(nonblank_lines(read_tick_lines(spark, path)))),
            ("ticks.derive", lambda: derive_tick_columns(
                route(nonblank_lines(read_tick_lines(spark, path))))),
            ("encode.encode", lambda: encode_stream(publishable(derive_tick_columns(
                route(nonblank_lines(read_tick_lines(spark, path)))))))):
        with ctx.tracer.span(f"cut.{label}.{name}"):
            rungs[name] = min(_timed(lambda: noop(build())) for _ in range(LADDER_REPEATS))
    publish_s = []
    with ctx.tracer.span(f"cut.{label}.sinks.publish"):
        for i in range(LADDER_REPEATS):
            frames_path = os.path.join(ctx.work, f"cut-{label}-{i}.bin")
            pub = TimedPublisher(FilePublisher(frames_path))
            publish_s.append(_timed(lambda: publish_batch(derive_tick_columns(route(
                nonblank_lines(read_tick_lines(spark, path)))), pub)))
            pub.close()
    rungs["sinks.publish"] = min(publish_s)
    order = ["sources.scan", "ticks.route", "ticks.derive", "encode.encode", "sinks.publish"]
    out = {f"{order[0]}_s": rungs[order[0]]}
    for prev, cur in zip(order, order[1:]):
        out[f"{cur}_s"] = rungs[cur] - rungs[prev]
    out["ladder_total_s"] = rungs["sinks.publish"]
    out["sinks.endpoint_s"] = pub.endpoint_s
    out["sinks.frames"] = pub.frames
    out["encode.payload_bytes"] = os.path.getsize(frames_path) - 4 * pub.frames
    counts = {r["message_type"]: r["count"] for r in route(nonblank_lines(
        read_tick_lines(spark, path))).groupBy("message_type").count().collect()}
    nonblank = nonblank_lines(read_tick_lines(spark, path)).count()
    out.update({"ticks.rows_price": counts.get("price_tick", 0),
                "ticks.rows_heartbeat": counts.get("heartbeat", 0),
                "ticks.rows_unknown": counts.get("unknown", 0),
                "ticks.rows_dropped": nonblank - sum(counts.values())})
    return out


def _progress_detail(progress: list[dict]) -> dict:
    rows = [p for p in progress if p.get("numInputRows", 0) > 0]
    out = {"pipeline.triggers": len(rows)}
    for key, name in (("triggerExecution", "trigger_s"), ("addBatch", "add_batch_s"),
                      ("latestOffset", "latest_offset_s"), ("getBatch", "get_batch_s"),
                      ("queryPlanning", "query_planning_s"), ("walCommit", "wal_commit_s")):
        vals = [p["durationMs"].get(key, 0) / 1e3 for p in rows]
        if vals:
            out[f"pipeline.{name}.p50"] = median(vals)
            out[f"pipeline.{name}.max"] = max(vals)
    if rows:
        out["pipeline.rows_per_trigger.p50"] = median([p["numInputRows"] for p in rows])
    return out


# the order the micro-batch loop runs its timed phases in
_TRIGGER_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                   "walCommit", "commitOffsets")


def _trigger_spans(tracer, progress: list[dict]) -> None:
    """One ``pipeline.trigger`` span per trigger that carried rows, with its
    ``durationMs`` phases as child spans laid end to end from the trigger's
    start (progress events give durations, not phase start times)."""
    for p in progress:
        if p.get("numInputRows", 0) == 0:
            continue
        dur = p["durationMs"]
        t = _iso_ms(p["timestamp"]) / 1e3
        parent = tracer.record("pipeline.trigger", t, t + dur.get("triggerExecution", 0) / 1e3,
                               clock="wall", batch=p["batchId"], rows=p["numInputRows"])
        for phase in _TRIGGER_PHASES:
            if phase in dur:
                tracer.record(f"pipeline.{phase}", t, t + dur[phase] / 1e3, parent, clock="wall")
                t += dur[phase] / 1e3


def _iso_ms(ts: str) -> float:
    head, frac = ts.rstrip("Z").split(".")
    return calendar.timegm(time.strptime(head, "%Y-%m-%dT%H:%M:%S")) * 1e3 + float("0." + frac) * 1e3


# -- workload ----------------------------------------------------------------

def _drain(ctx, capture_dir: str, expected: dict, mode: str, tag: str) -> dict:
    """One drain of ``capture_dir`` to completion through a fresh stream."""
    from oanda_stream_processor_spark.streaming.pipeline import run_pipeline
    from oanda_stream_processor_spark.streaming.sinks import (
        FilePublisher, PartitionedFilePublisherFactory)
    out = os.path.join(ctx.work, f"drain-{tag}")
    os.makedirs(out)
    frames_path = os.path.join(out, "frames.bin")
    single = TimedPublisher(FilePublisher(frames_path)) if mode == "single" else None
    kw = ({"publisher": single} if single is not None
          else {"publisher_factory": PartitionedFilePublisherFactory(frames_path)})
    ctx.spark.sparkContext.setJobGroup(f"drain-{tag}", f"tick-replay {mode}")
    with ctx.tracer.span(f"sinks.drain_{mode}", tag=tag):
        t0 = time.perf_counter()
        handles = run_pipeline(ctx.spark, capture_dir,
                               checkpoint_dir=os.path.join(out, "ck"), **kw)
        try:
            handles.process_all_available()
            progress = list(handles.queries[0].recentProgress)
        finally:
            handles.stop()
            if single is not None:
                single.close()
        wall = time.perf_counter() - t0
    frames = read_frames(glob.glob(frames_path + "*"))
    return {"mode": mode, "wall_s": wall, "frames": len(frames),
            "tally": check_frames(expected, frames), "progress": progress,
            "endpoint_s": single.endpoint_s if single is not None else None}


def _capture(ctx, name: str, seed: int, n: int) -> tuple[str, str, dict, dict]:
    """A directory holding one seeded capture file: (directory, file,
    generator counts, expected frames)."""
    cap_dir = os.path.join(ctx.work, name)
    os.makedirs(cap_dir)
    path = os.path.join(cap_dir, "capture.ndjson")
    counts = tickgen.write_capture(path, seed, n, CAPTURE_EPOCH_NS)
    return cap_dir, path, counts, expected_frames(read_source_lines([path]))


def tick_replay(ctx) -> dict:
    cap_dir, capture, gen_counts, expected = _capture(
        ctx, "replay-cap", ctx.seed, REPLAY_LINES)
    warm_dir, _, _, warm_expected = _capture(ctx, "replay-warm", ctx.seed + 1, WARM_LINES)

    # warm-up: one small drain pays the first stream's start, codegen and
    # Python worker start, which a drain of any size pays once per session
    warm_failed = _drain(ctx, warm_dir, warm_expected, "single", "warm")["tally"]["failures"]

    ctx.counters_start()
    drains = []
    t0 = time.perf_counter()
    while not drains or time.perf_counter() - t0 < ctx.seconds:
        for m in MODES:
            ctx.probe()
            drains.append(_drain(ctx, cap_dir, expected, m, f"{len(drains)}-{m}"))
    ctx.measure_end()
    ctx.n_ops = len(drains)
    frames = len(expected)
    wall = {m: sum(d["wall_s"] for d in drains if d["mode"] == m) for m in MODES}
    n = {m: sum(1 for d in drains if d["mode"] == m) for m in MODES}
    result = {
        "attempted": frames * len(drains) + len(warm_expected),
        "failed": warm_failed + sum(d["tally"]["failures"] for d in drains),
        "n_ops": len(drains),
        "rate_per_s": frames * len(drains) / sum(wall.values()),
        "latency_s": median([d["wall_s"] for d in drains if d["mode"] == "single"]),
        "detail": {"capture_lines": REPLAY_LINES, "generator": gen_counts,
                   "drain_s": {m: [d["wall_s"] for d in drains if d["mode"] == m]
                               for m in MODES},
                   **{f"tick_drain_{m}_msgs_per_s": frames * n[m] / wall[m] for m in MODES},
                   "check": [d["tally"] for d in drains if d["tally"]["failures"]]},
    }
    if ctx.trace:
        d = result["detail"]
        progress = [p for x in drains for p in x["progress"]]
        d.update(_progress_detail(progress))
        _trigger_spans(ctx.tracer, progress)
        d["pipeline.jobs_per_drain"] = ctx.totals["jobs"] / len(drains)
        # stream start, offsets, commit and stop: drain wall time no trigger covers
        d["pipeline.outside_trigger_s"] = median([x["wall_s"] - sum(
            p["durationMs"].get("triggerExecution", 0) / 1e3 for p in x["progress"])
            for x in drains])
        d["sinks.endpoint_s"] = median([x["endpoint_s"] for x in drains
                                        if x["mode"] == "single"])
        d["ladder"] = cut_ladder(ctx, capture, "capture")
        d["ladder_vs_single_drain"] = d["ladder"]["ladder_total_s"] / min(
            d["drain_s"]["single"])
        d["pipeline.local1_drain_msgs_per_s"] = _local1_drain(ctx, cap_dir, expected)
    return result


def _local1_drain(ctx, cap_dir: str, expected: dict) -> float:
    """Single-threaded baseline: one single-publisher drain on local[1]."""
    from perfbench.harness import floor_job
    from oanda_stream_processor_spark.session import get_spark
    ctx.spark.stop()
    ctx.spark = get_spark(app_name="perfbench", master="local[1]")
    floor_job(ctx.spark)
    d = _drain(ctx, cap_dir, expected, "single", "local1")
    ctx.extra_failed += d["tally"]["failures"]
    return d["frames"] / d["wall_s"]
