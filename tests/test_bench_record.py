"""bench.py's emitted record: the session's effective parallelism is
carried in-band, read from the running session."""

from __future__ import annotations

import json

import bench


def test_emit_carries_session_parallelism(spark, capsys, monkeypatch):
    monkeypatch.setattr(bench, "_PARTIAL",
                        {"queries": {"q01": 0.5}, "errors": {},
                         "passes": {}})
    bench._record_session(spark)
    bench._emit()
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    sc = spark.sparkContext
    assert rec["spark_master"] == sc.master == "local[4]"
    assert rec["default_parallelism"] == sc.defaultParallelism
    assert rec["value"] == 0.5
