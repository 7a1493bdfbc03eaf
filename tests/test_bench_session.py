"""The bench session warms only what every query uses (table scans and
the Python worker pool) — no transformWithState path, which only the TWS
queries take and which `bench.time_one`'s best-of-N already absorbs.
"""

from __future__ import annotations

import bench
from kommunedata_data_pipeline_spark.streaming import stateful, windows


def test_prepare_session_warms_no_tws_path(spark, sf_dir, monkeypatch):
    calls: list[str] = []
    monkeypatch.setattr(
        windows, "run_to_memory", lambda *a, **k: calls.append("run_to_memory")
    )
    monkeypatch.setattr(
        stateful,
        "enable_tws_workers",
        lambda *a, **k: calls.append("enable_tws_workers"),
    )
    confs = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in confs}
    env_before = dict(spark.sparkContext.environment)
    try:
        got = bench.prepare_session(sf_dir)
        assert got.sparkContext is spark.sparkContext
        assert calls == []
        assert got.streams.active == []
        assert dict(spark.sparkContext.environment) == env_before
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
