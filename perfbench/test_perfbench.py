"""Fast tests of the benchmark itself (no Spark session):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness, querymix, run, store, tablegen, tickgen, ticks  # noqa: E402
from perfbench.harness import Tracer, operation_latency, quantile  # noqa: E402


def _fixed_clock(start: int = 1_790_000_000 * 10**9, step: int = 1_000):
    t = [start - step]

    def clock() -> int:
        t[0] += step
        return t[0]
    return clock


def _lines(seed: int, n: int = 500) -> list[str]:
    return list(tickgen.TickSource(seed, clock=_fixed_clock()).lines(n))


def _frames(lines: list[str]) -> list[bytes]:
    """Encode publishable lines the way the pipeline does (µs timestamps)."""
    from oanda_stream_processor_spark.proto import wire
    out = []
    for raw in lines:
        try:
            obj = json.loads(raw) if raw.strip() else None
        except ValueError:
            continue
        if not isinstance(obj, dict):
            continue
        if obj.get("type") == "HEARTBEAT":
            us = ticks._ns_of(obj["time"]) // 1000
            body = wire.encode_heartbeat(us // 10**6, us % 10**6 * 1000, "HEARTBEAT")
            out.append(wire.encode_stream_message("heartbeat", body))
        elif "closeoutAsk" in obj:
            us = ticks._ns_of(obj["time"]) // 1000
            body = wire.encode_price_tick(
                asks=[(lv["price"], lv["liquidity"]) for lv in obj["asks"]],
                bids=[(lv["price"], lv["liquidity"]) for lv in obj["bids"]],
                closeout_ask=obj["closeoutAsk"], closeout_bid=obj["closeoutBid"],
                instrument=obj["instrument"], status=obj["status"],
                ts_seconds=us // 10**6, ts_nanos=us % 10**6 * 1000)
            out.append(wire.encode_stream_message("price_tick", body))
    return out


def test_same_seed_same_bytes_and_other_seed_differs(tmp_path):
    assert _lines(7) == _lines(7)
    assert _lines(7) != _lines(8)
    a, b, c = (str(tmp_path / n) for n in ("a.ndjson", "b.ndjson", "c.ndjson"))
    tickgen.write_capture(a, 7, 1000, 10**18)
    tickgen.write_capture(b, 7, 1000, 10**18)
    tickgen.write_capture(c, 8, 1000, 10**18)
    data = [open(p, "rb").read() for p in (a, b, c)]
    assert data[0] == data[1] != data[2]
    assert not any(n.startswith(".") for n in os.listdir(tmp_path))


def test_generator_mix_reaches_every_route_branch():
    src = tickgen.TickSource(3, clock=_fixed_clock())
    list(src.lines(1000))
    assert src.counts == {"price_tick": 950, "heartbeat": 10, "blank": 10,
                          "unknown": 20, "malformed": 10}


def test_clean_frames_pass_the_check():
    lines = _lines(11)
    expected = ticks.expected_frames(lines)
    tally = ticks.check_frames(expected, _frames(lines))
    assert tally["failures"] == 0 and tally["frames"] == len(expected) == 480


@pytest.mark.parametrize("damage", ["drop", "duplicate", "corrupt", "unknown"])
def test_damaged_frames_are_caught(damage):
    from oanda_stream_processor_spark.proto import wire
    lines = _lines(12)
    expected = ticks.expected_frames(lines)
    frames = _frames(lines)
    if damage == "drop":
        frames.pop(17)
    elif damage == "duplicate":
        frames.append(frames[3])
    elif damage == "corrupt":
        tick = json.loads(lines[5])
        bad = dict(tick, closeoutBid="9.99999")
        frames[5] = _frames([json.dumps(bad)])[0]
    else:
        frames.append(wire.encode_stream_message("heartbeat", wire.encode_heartbeat(1, 0, "X")))
    tally = ticks.check_frames(expected, frames)
    assert tally["failures"] == 1
    key = {"drop": "missing", "duplicate": "duplicate", "corrupt": "mismatched",
           "unknown": "unexpected"}[damage]
    assert tally[key] == 1


def test_wrong_query_hash_is_caught(tmp_path):
    import duckdb

    import __spark_entry__ as ent
    data = str(tmp_path / "tables")
    tablegen.write_tables(data, 4, scale=0.2)
    name = "q11_cube"
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    res = con.execute(ent.oracle_sql()[name])
    cols, rows = [d[0] for d in res.description], res.fetchall()
    con.close()
    assert querymix.check_results(data, {name: [(cols, rows)]}) == {name: "pass"}
    row = list(rows[0])
    i = next(j for j, v in enumerate(row) if isinstance(v, (int, float)) and v is not None)
    row[i] = row[i] + 1
    tampered = [tuple(row)] + rows[1:]
    # a wrong result in any pass fails the query
    assert querymix.check_results(data, {name: [(cols, rows), (cols, tampered)]}) == {
        name: "hash differs"}


def test_seeded_tables_and_batches_are_deterministic():
    a, b = tablegen.make_tables(9, scale=0.05), tablegen.make_tables(9, scale=0.05)
    assert all(a[t].equals(b[t]) for t in a)
    assert not tablegen.make_tables(10, scale=0.05)["lineitem"].equals(a["lineitem"])
    batches = store.assign_batches(9, 200, 10)
    assert batches == store.assign_batches(9, 200, 10)
    assert batches[:10] == [0] * 10 and set(batches) == set(range(store.N_BATCHES))
    assert store.N_BATCHES >= 3  # compaction folds nothing below three batches


def test_metric_names_and_units_match_benchmark_json(monkeypatch):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert list(e2e) == run.END_TO_END and list(layer) == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(run._workloads())

    ref = harness.PROBE_REF_S

    class Sess:
        setups_s, floor_s = [3.0, 0.5, 0.6, 0.7], 0.1

    class Ctx:
        trace = False
        totals = {"jobs": 4, "stages": 5, "tasks": 9, "task_run_s": 1.0, "task_cpu_s": 0.5,
                  "task_gc_s": 0.1, "input_mb": 2.0, "stage_busy_s": 1.5}
        n_ops, measured_s, spark = 2, 3.0, None
        probes = [2 * ref, 2 * ref, ref]
        tracer = Tracer(True, "t")

    result = {"latency_s": 2.0, "rate_per_s": 5.0}
    printed = run.metrics_of(result, Sess, Ctx)
    assert {k: v["unit"] for k, v in printed.items()} == e2e
    # the cold start is not a set-up sample; the rate scales with the host probe
    assert printed["setup_s"]["value"] == 0.6
    assert printed["throughput_per_s"]["value"] == pytest.approx(10.0)
    Ctx.trace = True
    monkeypatch.setattr(run, "jvm_peak_heap_mb", lambda spark: 1.0)
    printed = run.metrics_of(result, Sess, Ctx)
    assert {k: v["unit"] for k, v in printed.items()} == layer


def test_summaries_and_span_self_time():
    assert quantile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5
    ops = operation_latency([1.0, 4.0, 2.0])
    assert ops["latency_s"] == pytest.approx(2.0) and ops["tail_s"] == 4.0
    tr = Tracer(True, "r")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    self_s = tr.self_times()
    outer = tr.spans[0]["end"] - tr.spans[0]["start"]
    inner = tr.spans[1]["end"] - tr.spans[1]["start"]
    assert self_s["outer"] == pytest.approx(outer - inner)
    assert tr.spans[1]["parent"] == 0 and tr.spans[0]["run"] == "r"
