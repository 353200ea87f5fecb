"""``query-store``: one closed-loop client, one session.  A pass runs a fixed
list of registry queries (``__spark_entry__.queries()``), each built and then
executed once in sorted order, and then the BM25 store sequence of
``perfbench.store`` over the same tables' ``documents``.

The list holds one query per operator module: of the module's heaviest and
median-cost queries at sf0.1 (``BENCH_LOCAL_r18.json``), the one that runs
faster on these tables, so that all sixteen modules fit one pass.

Passes repeat until the run's window has passed; every pass counts.  Each
pass reads its own copy of the seeded tables, so no memo keyed on the table
directory (the program's per-(application, directory) frame memos) and no
store state carries from one pass to the next.  The first pass runs cold,
as a user's fresh job does; no warm-up precedes it.

Execution collects the result rows.  After timing, every pass's rows are
checked against the query's DuckDB twin with ``tools/verify_oracle.py``'s
canonical hash (row count only for queries without a twin), and every
pass's served top-k against one-shot ``q175_bm25_topk``.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import tablegen
from perfbench.harness import operation_latency
from perfbench.store import StoreRun, store_detail

QUERIES = sorted([
    "q11_cube", "q62_top_of_book", "q103_interval_overlap",
    "q57_lsh_verified_pairs", "q92_ann_ivf_sq", "q101_fuzzy_match",
    "q86_frame_sample", "q60_tick_pipeline", "q70_pandas_udf_zscore",
    "q106_integrity_audit", "q115_embedding_drift", "q68_linear_regression",
    "q94_pps_sample", "q82_recursive_hierarchy", "q137_lateness_audit",
    "q178_bm25_maxscore_topk",
])


def module_of(name: str) -> str:
    import __spark_entry__ as ent
    for m in ent._MODULES:
        if name in m.QUERIES:
            return m.__name__.rsplit(".", 1)[-1]
    raise KeyError(name)


def check_results(data_dir: str, results: dict) -> dict:
    """Per query: 'pass', or the reason it failed against its DuckDB twin.
    ``results`` maps a query name to a list of (columns, rows), one per pass."""
    import duckdb

    import __spark_entry__ as ent
    from tools.verify_oracle import TABLES, canon
    oracles = ent.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        verdicts = {}
        for name, runs in results.items():
            if name not in oracles:
                verdicts[name] = "pass" if all(rows for _, rows in runs) else "no rows"
                continue
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            want = canon(orows, ocols)[0]
            verdicts[name] = "pass"
            for cols, rows in runs:
                if len(rows) != len(orows):
                    verdicts[name] = f"rowcount {len(rows)} != {len(orows)}"
                elif sorted(cols) != sorted(ocols):
                    verdicts[name] = f"columns {sorted(cols)} != {sorted(ocols)}"
                elif canon(rows, cols)[0] != want:
                    verdicts[name] = "hash differs"
                else:
                    continue
                break
        return verdicts
    finally:
        con.close()


def run_queries(ctx, data: str, tag: str, results: dict, errors: dict) -> dict:
    """Build and execute each query once, each in job group ``q-<name>-<tag>``;
    returns per query its build and execute seconds.  Rows go to
    ``results``, failures to ``errors``."""
    import __spark_entry__ as ent
    qs = ent.queries()
    sc = ctx.spark.sparkContext
    per_query = {}
    for name in QUERIES:
        mod = module_of(name)
        sc.setJobGroup(f"q-{name}-{tag}", name)
        ctx.probe()
        try:
            with ctx.tracer.span(f"operators.{mod}.build", query=name):
                t0 = time.perf_counter()
                df = qs[name](ctx.spark, data)
                t1 = time.perf_counter()
            with ctx.tracer.span(f"operators.{mod}.exec", query=name):
                rows = [tuple(r) for r in df.collect()]
                t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 — a failed query counts, the mix goes on
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        results.setdefault(name, []).append((df.columns, rows))
        per_query[name] = {"module": mod, "build_s": t1 - t0, "exec_s": t2 - t1}
    sc.setJobGroup("perfbench", "perfbench")
    return per_query


def query_store(ctx) -> dict:
    base = os.path.join(ctx.work, "tables-0")
    tablegen.write_tables(base, ctx.seed)
    results: dict = {}
    errors: dict = {}
    passes, stores = [], []
    ctx.counters_start()
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < ctx.seconds:
        tag = f"p{len(passes)}"
        data = os.path.join(ctx.work, f"tables-{len(passes)}")
        if not os.path.exists(data):
            shutil.copytree(base, data)
        with ctx.tracer.span("pass", index=len(passes)):
            timed = run_queries(ctx, data, tag, results, errors)
            store = StoreRun(ctx, data, tag)
            ops = {f"{q}.{k}": v[k] for q, v in timed.items() for k in ("build_s", "exec_s")}
            ops.update(store.run())
        stores.append(store)
        passes.append((timed, ops))
    ctx.measure_end()

    verdicts = check_results(base, results)
    verdicts.update(errors)
    q_failed = sum(1 for v in verdicts.values() if v != "pass")
    s_failed, s_detail = store_detail(ctx, stores)
    # one operation = one query (build + execute) or one store operation
    q_s = [v["build_s"] + v["exec_s"] for timed, _ in passes for v in timed.values()]
    op_s = q_s + [s for st in stores for s in st.op_s.values()]
    first = passes[0][0]
    detail = {"passes": len(passes), "pass_s": [sum(ops.values()) for _, ops in passes],
              "verdicts": {k: v for k, v in verdicts.items() if v != "pass"},
              "query_mix_s": sum(q_s) / len(passes),
              "query_geomean_s": operation_latency(q_s)["latency_s"],
              "queries": first, "store": s_detail}
    if ctx.trace:
        by_mod: dict[str, dict] = {}
        for q, v in first.items():
            v.update(ctx.counters.group_counts(f"q-{q}-p0"))
            m = by_mod.setdefault(v["module"], {"build_s": 0.0, "exec_s": 0.0, "jobs": 0})
            for k in m:
                m[k] += v[k]
        detail["operators"] = by_mod
    ctx.n_ops = len(op_s)
    return {"attempted": len(QUERIES) * len(passes) + len(stores) * (len(stores[0].op_s) + 1),
            "failed": q_failed + s_failed, "n_ops": len(op_s),
            **operation_latency(op_s), "rate_per_s": len(op_s) / sum(op_s),
            "detail": detail}
