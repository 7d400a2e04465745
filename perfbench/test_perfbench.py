"""Self-tests of the benchmark's own pieces.

    python3 -m pytest perfbench -q -p no:cacheprovider

The Spark test pins the plan-metric collector on two registry entries at
sf0.001 size (1,000 events, 50 documents).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (ROOT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)

import common  # noqa: E402
import gen  # noqa: E402
from tracer import Tracer  # noqa: E402


def _read(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def test_same_seed_gives_identical_inputs(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"), 7, events=2_000, days=5, docs=300)
    b = gen.write_tables(str(tmp_path / "b"), 7, events=2_000, days=5, docs=300)
    c = gen.write_tables(str(tmp_path / "c"), 8, events=2_000, days=5, docs=300)
    for name in ("events.parquet", "documents.parquet"):
        assert _read(f"{a}/{name}") == _read(f"{b}/{name}")
        assert _read(f"{a}/{name}") != _read(f"{c}/{name}")
    ev7, ev8 = gen.events_table(7, 2_000, 5), gen.events_table(8, 2_000, 5)
    assert gen.dashboard(7, ev7, 5) == gen.dashboard(7, ev7, 5)
    assert gen.dashboard(7, ev7, 5) != gen.dashboard(8, ev8, 5)
    assert gen.refresh_order(7, 11, 3) == gen.refresh_order(7, 11, 3)
    assert gen.refresh_order(7, 11, 3) != gen.refresh_order(8, 11, 3)
    assert gen.ndjson_batch(7, 2, 50, "x") == gen.ndjson_batch(7, 2, 50, "x")
    assert gen.ndjson_batch(7, 2, 50, "x") != gen.ndjson_batch(8, 2, 50, "x")
    assert gen.curate_order(7, 4) == gen.curate_order(7, 4)
    assert gen.curate_order(7, 4) != gen.curate_order(8, 4)


def test_refresh_order_visits_every_panel_each_cycle():
    order = gen.refresh_order(3, 11, 4)
    for c in range(4):
        assert sorted(order[c * 11:(c + 1) * 11]) == list(range(11))


def test_tracer_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("query"):
        with tr.span("planner.plan"):
            with tr.span("index.list"):
                time.sleep(0.02)
            time.sleep(0.01)
        time.sleep(0.005)
    self_ms, unattributed, total = tr.layer_self_ms("query")
    # sleeps may overrun under load, never fall short
    assert self_ms["index"] >= 20
    assert self_ms["planner"] >= 10
    assert sum(self_ms.values()) + unattributed == pytest.approx(total, rel=1e-9)
    assert tr.total_ms("index.list", "planner.plan") > 0
    assert tr.total_ms("index.list", "query") == 0


def test_catalogue_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(common.E2E)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(common.LAYERS)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from victorialogs_spark.session import get_spark

    s = get_spark("perfbench-test", extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_plan_metrics_pinned_cases(spark, tmp_path):
    from planstats import JobCounter, plan_metrics
    from victorialogs_spark.driver_entry import QUERIES

    src = gen.write_tables(str(tmp_path / "sf"), 1, events=1_000, days=5, docs=50)
    jobs = JobCounter(spark)

    df = QUERIES["s_stats_by"](spark, src)
    with jobs.group("s_stats_by") as gid:
        rows = df.collect()
    m = plan_metrics(df)
    assert len(rows) == len(gen.EVENT_TYPES)
    assert m["scan_files"] == 1
    assert m["scan_rows"] == 1_000
    assert m["shuffle_records"] > 0
    counts = jobs.counts(gid)
    assert counts["jobs"] >= 1 and counts["tasks"] >= counts["stages"] >= 1

    df = QUERIES["dp_repetition"](spark, src)
    df.collect()
    m = plan_metrics(df)
    assert m["py_rows"] == 50
    assert m["py_bytes_sent"] > 0 and m["py_bytes_recv"] > 0
