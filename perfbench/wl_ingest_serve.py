"""ingest_serve: writes beside reads on the in-process ``serve()`` facade.

The server is preloaded with the seeded events table. One closed-loop
writer, a log shipper that waits for each ack, posts seeded NDJSON
batches to ``/insert/jsonline?_stream_fields=app``. One closed-loop
reader cycles a four-query LogsQL mix on ``/select/logsql/query``; one
query counts the ingested stream. Reads scan the served frame, not a
table path, so the index sidecars are bypassed; the frame grows past
the in-memory pending tier into the spill LSM (flush, migrate, compact).

The spill tiers are sized for a run of seconds, not hours: the
benchmark sets ``_State.FLUSH_ROWS``, ``MIGRATE_FILES`` and
``COMPACT_FILES`` so that one run crosses several flush, migrate and
compact cycles.

Correctness (the drift checks of ``tools/mixed_wave.py``): the preloaded
``event_type:error`` count never changes during the run; the ingested
stream's count never falls between non-overlapping reads; after
``wait_idle`` it equals the number of lines posted. Each violation, and
each request that failed, counts as failed.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
import urllib.parse
import urllib.request

import common
import gen
from common import Result, log, median, pct

EVENTS = 40_000
DAYS = 5
BATCH_LINES = 5_000
APP = "benchapp"
SETUPS = 3
LSM = {"FLUSH_ROWS": 10_000, "MIGRATE_FILES": 2, "COMPACT_FILES": 4}
READ_MIX = (
    "event_type:error | stats count() as n",
    "* | stats by (event_type) count() as hits",
    f'{{app="{APP}"}} | stats count() as n',
    f'{{app="{APP}"}} level:error | stats by (_time:1h) count() as n'
    " | sort by (_time) | limit 5",
)


class _Client:
    def __init__(self, port: int):
        self.base = f"http://127.0.0.1:{port}"

    def read(self, q: str) -> bytes:
        u = f"{self.base}/select/logsql/query?" + urllib.parse.urlencode({"query": q})
        with urllib.request.urlopen(u, timeout=120) as r:
            return r.read()

    def write(self, body: str) -> None:
        req = urllib.request.Request(
            f"{self.base}/insert/jsonline?_stream_fields=app",
            data=body.encode(), headers={"Content-Type": "text/plain"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            r.read()

    def metric(self, name: str) -> int:
        with urllib.request.urlopen(f"{self.base}/metrics", timeout=30) as r:
            text = r.read().decode()
        return sum(
            int(line.rsplit(" ", 1)[1]) for line in text.splitlines()
            if line.startswith(name + "{") and 'status="ok"' in line
        )


def _count(body: bytes) -> int:
    return int(json.loads(body)["n"])


def run(ctx) -> Result:
    from tracer import Tracer

    src = ctx.generate(gen.write_tables, ctx.path("input"), ctx.seed,
                       events=EVENTS, days=DAYS)
    batches = [
        ctx.generate(gen.ndjson_batch, ctx.seed, b, BATCH_LINES, APP)
        for b in range(16)
    ]
    tr = Tracer() if ctx.trace else None
    t_session = ctx.start_spark()
    spark = ctx.spark
    from victorialogs_spark import http_server
    from victorialogs_spark.http_server import _State, serve
    from victorialogs_spark.schema import events_as_logs

    for k, v in LSM.items():
        setattr(_State, k, v)
    logs = events_as_logs(spark, src)

    # set-up, several times: start a server over the preloaded frame and
    # warm it (one post so the ingested stream exists, one read of each
    # query); the last server stays up for the run
    setups, srv = [], None
    for i in range(SETUPS):
        if srv is not None:
            srv.stop()
        t0 = time.perf_counter()
        srv = serve(spark, logs, spill_dir=ctx.path(f"spill{i}"))
        cli = _Client(srv.port)
        cli.write(batches[0])
        for q in READ_MIX:
            cli.read(q)
        setups.append(time.perf_counter() - t0)
    setup_s = t_session + median(setups)
    log(f"ingest_serve: session {t_session:.2f}s setups {setups}")

    spill = srv.spill_dir
    written: dict[str, int] = {}  # every parquet file the LSM wrote -> bytes

    def note_files() -> None:
        for f in glob.glob(os.path.join(spill, "**", "*.parquet"), recursive=True):
            if f not in written:
                try:
                    written[f] = os.path.getsize(f)
                except FileNotFoundError:
                    pass

    if tr:
        tr.wrap(http_server, "ingest_ndjson", "schema.ingest_ndjson")
        tr.wrap(_State, "append", "http_server.append")
        tr.wrap(http_server._Handler, "_select", "http_server.select")
        tr.wrap(_State, "_flush_bg", "http_server.flush", after=note_files)
        tr.wrap(_State, "_migrate", "http_server.migrate", after=note_files)
        tr.wrap(_State, "_compact_one_day", "http_server.compact", after=note_files)
        note_files()

    base_error = cli.read(READ_MIX[0]).strip()
    posted = [BATCH_LINES]  # the warm-up batch
    posted_bytes = [len(batches[0].encode())]
    read_lat: list[float] = []
    write_lat: list[float] = []
    problems: list[str] = []
    seen_counts: list[tuple[float, int]] = []  # (completed at, count)
    lock = threading.Lock()
    stop = threading.Event()
    failed_writes = [0]

    def reader() -> None:
        k = 0
        while not stop.is_set():
            q = READ_MIX[k % len(READ_MIX)]
            k += 1
            t0 = time.perf_counter()
            try:
                body = cli.read(q)
            except Exception as e:  # noqa: BLE001 — counted, run goes on
                with lock:
                    problems.append(f"read error: {e!r}"[:200])
                continue
            t1 = time.perf_counter()
            with lock:
                read_lat.append(t1 - t0)
                if q == READ_MIX[0] and body.strip() != base_error:
                    problems.append(f"preloaded count drifted: {body[:80]!r}")
                if q == READ_MIX[2]:
                    n = _count(body)
                    # monotone only between reads that did not overlap
                    prior = max((c for t, c in seen_counts if t < t0), default=0)
                    if n < prior:
                        problems.append(f"ingested count fell {prior} -> {n}")
                    seen_counts.append((t1, n))

    def writer() -> None:
        b = 1
        while not stop.is_set():
            body = batches[b % len(batches)]
            b += 1
            t0 = time.perf_counter()
            try:
                cli.write(body)
            except Exception as e:  # noqa: BLE001
                with lock:
                    failed_writes[0] += 1
                    problems.append(f"write error: {e!r}"[:200])
                continue
            with lock:
                write_lat.append(time.perf_counter() - t0)
                posted[0] += BATCH_LINES
                posted_bytes[0] += len(body.encode())

    threads = [threading.Thread(target=reader), threading.Thread(target=writer)]
    t_start = time.perf_counter()
    for t in threads:
        t.start()
    time.sleep(max(0.0, t_start + ctx.seconds - time.perf_counter()))
    stop.set()
    for t in threads:
        t.join(timeout=150)
    wall = time.perf_counter() - t_start

    # end state, outside the timed window
    if not srv.state.wait_idle(timeout=120):
        problems.append("spill lifecycle did not go idle")
    final = _count(cli.read(READ_MIX[2]))
    if final != posted[0]:
        problems.append(f"ingested count {final} != lines posted {posted[0]}")
    flat = glob.glob(os.path.join(spill, "*.parquet"))
    table = glob.glob(os.path.join(spill, "_table", "_day=*", "*.parquet"))
    stored = sum(os.path.getsize(f) for f in flat + table)
    migrations = cli.metric("vl_spill_migrations_total")
    compactions = cli.metric("vl_spill_compactions_total")
    srv.stop()
    for p in problems:
        log(f"PROBLEM {p}")

    attempted = len(read_lat) + len(write_lat) + failed_writes[0] + 1
    failed = len(problems)
    ingest_rate = (posted[0] - BATCH_LINES) / wall
    detail = {
        "reads": len(read_lat),
        "inserts": len(write_lat),
        "ingest_rows_per_s": ingest_rate,
        "insert_p50_ms": 1000 * pct(write_lat, 50),
        "insert_p90_ms": 1000 * pct(write_lat, 90),
        "stored_bytes_per_input_byte": stored / posted_bytes[0],
        "migrations": migrations,
        "compactions": compactions,
        "lsm_thresholds": LSM,
        "failed_frac": failed / attempted,
    }
    log(f"ingest_serve: {detail}")
    res = Result(
        attempted=attempted,
        failed=failed,
        e2e={
            "setup_s": setup_s,
            "query_p50_ms": 1000 * pct(read_lat, 50),
            "query_p90_ms": 1000 * pct(read_lat, 90),
            "queries_per_s": len(read_lat) / wall,
        },
        detail=detail,
        extra_layers=common.SERVE_LAYERS,
    )
    if tr:
        tr.restore()
        note_files()
        flushed = sum(v for f, v in written.items()
                      if os.path.dirname(f) == spill.rstrip("/"))
        res.layers = _layers(tr, read_lat, detail, len(flat), len(table),
                             sum(written.values()) / max(flushed, 1))
    return res


def _mean_ms(tr, name: str) -> float:
    spans = tr.named(name)
    return 1000.0 * sum(s.dur_s for s in spans) / len(spans) if spans else 0.0


def _layers(tr, read_lat, detail, flat_end, table_end, write_amp) -> dict:
    select = _mean_ms(tr, "http_server.select")
    return {
        "http_server.select_ms": select,
        "http_server.overhead_ms":
            1000.0 * sum(read_lat) / max(len(read_lat), 1) - select,
        "schema.ingest_ndjson_ms": _mean_ms(tr, "schema.ingest_ndjson"),
        "http_server.append_ms": _mean_ms(tr, "http_server.append"),
        "http_server.insert_p50_ms": detail["insert_p50_ms"],
        "http_server.insert_p90_ms": detail["insert_p90_ms"],
        "http_server.ingest_rows_per_s": detail["ingest_rows_per_s"],
        "http_server.flushes": len(tr.named("http_server.flush")),
        "http_server.flush_ms": _mean_ms(tr, "http_server.flush"),
        "http_server.migrations": detail["migrations"],
        "http_server.compactions": detail["compactions"],
        "http_server.migrate_ms": _mean_ms(tr, "http_server.migrate"),
        "http_server.compact_ms": _mean_ms(tr, "http_server.compact"),
        "http_server.flat_files_end": flat_end,
        "http_server.table_files_end": table_end,
        "http_server.write_amp": write_amp,
        "http_server.stored_bytes_per_input_byte":
            detail["stored_bytes_per_input_byte"],
    }
