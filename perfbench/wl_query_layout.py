"""query_layout: one closed-loop client querying the production layout.

A dashboard sends a LogsQL query, waits for the rows, sends the next: ``run_query(spark, <layout path>, q).collect()``. The table is
the seeded events table laid out by ``build_log_layout`` (day
partitions, five files per day, stream and bloom sidecars). The
dashboard has eleven panels, one per query template with seeded
parameters (``gen.dashboard``), refreshed in seeded order; selective
panels are bound by fixed per-query overhead, full scans by execution.

Correctness: after the timed window every distinct query is re-run on
the raw ``events_as_logs`` frame and must return the same rows; every
execution of a query whose rows differ, or that raised, counts as failed.
"""

from __future__ import annotations

import time

import pyarrow.parquet as pq

import common
import gen
from common import Result, log, median, pct

EVENTS = 40_000
DAYS = 5
TARGET_FILES = 5
STREAM_FIELDS = ["_stream_id", "event_type"]
BUILDS = 2


def _build(spark, logs, dst: str) -> float:
    from victorialogs_spark.streaming.ingest import build_log_layout

    t0 = time.perf_counter()
    build_log_layout(spark, logs, dst, stream_fields=STREAM_FIELDS,
                     target_files=TARGET_FILES)
    return time.perf_counter() - t0


def _patch_layers(tr) -> None:
    import victorialogs_spark.api as api
    import victorialogs_spark.index.bloom as bloom
    import victorialogs_spark.index.streams as streams
    import victorialogs_spark.planner.planner as planner
    import victorialogs_spark.streaming.ingest as ingest
    from pyspark.sql.readwriter import DataFrameReader

    tr.wrap(api, "parse_query", "logsql.parse")
    tr.wrap(bloom, "open_log_table", "index.prune")
    tr.wrap(DataFrameReader, "parquet", "index.list")
    tr.wrap(planner, "plan_query", "planner.plan")
    tr.wrap(ingest, "compact_table", "ingest.compact")
    tr.wrap(streams, "build_stream_index", "index.build_stream")
    tr.wrap(bloom, "build_token_bloom_index", "index.build_bloom")


def run(ctx) -> Result:
    from tracer import Tracer

    src = ctx.generate(gen.write_tables, ctx.path("input"), ctx.seed,
                       events=EVENTS, days=DAYS)
    events = pq.read_table(f"{src}/events.parquet")
    panels = ctx.generate(gen.dashboard, ctx.seed, events, DAYS)
    # first cycle in panel order warms every template; then seeded cycles
    queries = panels + [
        panels[j] for j in gen.refresh_order(ctx.seed, len(panels), 1000)
    ]
    in_bytes = common.dir_bytes(src)

    tr = Tracer() if ctx.trace else None
    if tr:
        _patch_layers(tr)
    t_session = ctx.start_spark()
    spark = ctx.spark
    from victorialogs_spark.api import run_query
    from victorialogs_spark.schema import events_as_logs

    logs = events_as_logs(spark, src)

    # set-up, several times: build the layout into fresh dirs, keep the last
    builds = []
    for i in range(BUILDS):
        if tr:
            with tr.span("ingest.layout_build"):
                builds.append(_build(spark, logs, ctx.path(f"layout{i}")))
        else:
            builds.append(_build(spark, logs, ctx.path(f"layout{i}")))
    path = ctx.path(f"layout{BUILDS - 1}")
    stored = common.dir_bytes(path, ".parquet") + sum(
        common.dir_bytes(path + s, ".parquet")
        for s in ("_stream_index", "_bloom_index")
    )
    t0 = time.perf_counter()
    for q in panels:
        run_query(spark, path, q).collect()
    warm = time.perf_counter() - t0
    setup_s = t_session + median(builds) + warm
    log(f"query_layout: session {t_session:.2f}s builds {builds} warm {warm:.2f}s")

    from planstats import JobCounter, PLAN_KEYS, plan_metrics

    jobs = JobCounter(spark)
    lat: dict[bool, list[float]] = {False: [], True: []}
    seen: dict[str, list] = {}  # query -> normalised rows of each execution
    plan_tot = {k: 0 for k in PLAN_KEYS}
    job_tot = {"jobs": 0, "stages": 0, "tasks": 0}
    rows_out = 0
    executed: list[str] = []
    by_panel: dict[str, list[float]] = {q: [] for q in panels}
    errors = 0

    def once(q: str, traced: bool) -> None:
        nonlocal errors, rows_out
        executed.append(q)
        t0 = time.perf_counter()
        try:
            if traced:
                with tr.span("query"):
                    df = run_query(spark, path, q)
                    with tr.span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with jobs.group("q") as gid, tr.span("exec.run"):
                        rows = df.collect()
            else:
                df = run_query(spark, path, q)
                rows = df.collect()
        except Exception as e:  # noqa: BLE001 — a failed query is counted
            errors += 1
            seen.setdefault(q, []).append(None)
            log(f"query failed: {q!r}: {e!r}"[:300])
            return
        lat[traced].append(time.perf_counter() - t0)
        if not traced:
            by_panel[q].append(lat[False][-1])
        seen.setdefault(q, []).append(common.norm_rows(df.columns, rows))
        if traced:
            for k, v in plan_metrics(df).items():
                plan_tot[k] += v
            for k, v in jobs.counts(gid).items():
                job_tot[k] += v
            rows_out += len(rows)

    # the traced run sends each query twice, untraced and traced in
    # alternating order, so the tracing overhead compares like with like
    i = len(panels)
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    while time.perf_counter() < deadline:
        q = queries[i]
        i += 1
        for traced in ((False, True) if i % 2 else (True, False)) if tr else (False,):
            once(q, traced)
    wall = time.perf_counter() - t_start

    # correctness, outside the timed window
    t_check = time.perf_counter()
    failed = errors
    for q, results in seen.items():
        try:
            df = run_query(spark, logs, q)
            want = common.norm_rows(df.columns, df.collect())
        except Exception as e:  # noqa: BLE001
            log(f"reference run failed: {q!r}: {e!r}"[:300])
            want = object()
        bad = sum(1 for r in results if r is not None and r != want)
        if bad:
            log(f"MISMATCH x{bad}: {q}")
        failed += bad

    log(f"query_layout: {len(executed)} queries in {wall:.2f}s,"
        f" check {time.perf_counter() - t_check:.2f}s")
    untraced = lat[False]
    attempted = len(executed)
    res = Result(
        attempted=attempted,
        failed=failed,
        e2e={
            "setup_s": setup_s,
            "query_p50_ms": 1000 * pct(untraced, 50),
            "query_p90_ms": 1000 * pct(untraced, 90),
            "queries_per_s": len(untraced) / wall,
        },
        detail={
            "queries": len(untraced) + len(lat[True]),
            "panel_p50_ms": [
                round(1000 * median(by_panel[q]), 1) for q in panels
            ],
            "distinct_queries": len(seen),
            "layout_builds_s": [round(b, 3) for b in builds],
            "stored_bytes_per_input_byte": stored / in_bytes,
            "failed_frac": failed / max(attempted, 1),
        },
    )
    if tr:
        res.layers = _layers(ctx, tr, path, seen, executed, lat, plan_tot,
                             job_tot, rows_out, builds)
        tr.restore()
        res.layers["ingest.stored_bytes_per_input_byte"] = stored / in_bytes
    return res


def _layers(ctx, tr, path, seen, executed, lat, plan_tot, job_tot, rows_out,
            builds) -> dict[str, float]:
    """Per-query means of the traced queries' spans and plan counters."""
    from victorialogs_spark.index.bloom import open_log_table

    n = max(len(lat[True]), 1)
    self_ms, unattributed, total = tr.layer_self_ms("query")
    out = {
        "logsql.parse_ms": tr.total_ms("logsql.parse", "query") / n,
        "index.prune_ms": tr.total_ms("index.prune", "query") / n,
        "index.list_ms": tr.total_ms("index.list", "query") / n,
        "planner.plan_ms": self_ms.get("planner", 0.0) / n,
        "catalyst.plan_ms": self_ms.get("catalyst", 0.0) / n,
        "exec.run_ms": self_ms.get("exec", 0.0) / n,
        "trace.unattributed_frac": unattributed / total if total else 0.0,
        "trace.overhead_frac": (
            pct(lat[True], 50) / pct(lat[False], 50) - 1.0
            if lat[False] and lat[True] else 0.0
        ),
        "exec.rows_scanned_per_row_out": plan_tot["scan_rows"] / max(rows_out, 1),
        "ingest.layout_build_s": median(builds),
        "ingest.compact_s": tr.total_ms("ingest.compact") / 1000 / len(builds),
        "index.build_stream_s": tr.total_ms("index.build_stream") / 1000 / len(builds),
        "index.build_bloom_s": tr.total_ms("index.build_bloom") / 1000 / len(builds),
    }
    for k, v in job_tot.items():
        out[f"exec.{k}"] = v / n
    for k, v in plan_tot.items():
        layer = "functions" if k.startswith("py_") else "exec"
        out[f"{layer}.{k}"] = v / n
    # share of the table's files the sidecars keep, over every execution
    spark = ctx.spark
    total_files = len(spark.read.parquet(path).inputFiles())
    kept = {q: len(open_log_table(spark, path, q).inputFiles()) for q in seen}
    out["index.files_kept_frac"] = (
        sum(kept[q] for q in executed) / (total_files * len(executed))
    )
    log("query_layout self ms/query: " + ", ".join(
        f"{k}={v / n:.1f}" for k, v in sorted(self_ms.items())
    ) + f", unattributed={unattributed / n:.1f}, total={total / n:.1f}")
    return out
