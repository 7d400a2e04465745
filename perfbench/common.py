"""Shared pieces of the workloads: the run context, the metric catalogue
and the result line."""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

# (name, unit) — every end-to-end metric, reported by every workload
E2E = (
    ("setup_s", "s"),
    ("query_p50_ms", "ms"),
    ("query_p90_ms", "ms"),
    ("queries_per_s", "1/s"),
)
# (name, unit) — every per-layer metric of the benchmarked workloads; a
# workload that does not reach a layer reports 0 for it
LAYERS = (
    ("logsql.parse_ms", "ms"),
    ("index.prune_ms", "ms"),
    ("index.list_ms", "ms"),
    ("index.files_kept_frac", "ratio"),
    ("planner.plan_ms", "ms"),
    ("catalyst.plan_ms", "ms"),
    ("exec.run_ms", "ms"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.scan_files", "count"),
    ("exec.scan_bytes", "bytes"),
    ("exec.scan_rows", "count"),
    ("exec.rows_scanned_per_row_out", "ratio"),
    ("exec.shuffle_bytes", "bytes"),
    ("exec.shuffle_records", "count"),
    ("exec.broadcast_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.agg_peak_mem_bytes", "bytes"),
    ("functions.py_rows", "count"),
    ("functions.py_bytes_sent", "bytes"),
    ("functions.py_bytes_recv", "bytes"),
    ("functions.py_total_ms", "ms"),
    ("functions.py_boot_ms", "ms"),
    ("datapipe.dp_curate_s", "s"),
    ("datapipe.dp_quality_s", "s"),
    ("datapipe.dp_minhash_lsh_s", "s"),
    ("datapipe.dp_tfidf_terms_s", "s"),
    ("datapipe.dp_unigram_logprob_s", "s"),
    ("datapipe.build_ms", "ms"),
    ("datapipe.eager_jobs", "count"),
    ("datapipe.pass_s", "s"),
    ("ingest.layout_build_s", "s"),
    ("ingest.compact_s", "s"),
    ("ingest.stored_bytes_per_input_byte", "ratio"),
    ("index.build_stream_s", "s"),
    ("index.build_bloom_s", "s"),
    ("trace.overhead_frac", "ratio"),
    ("trace.unattributed_frac", "ratio"),
)
# per-layer metrics of the serve path, reported by the traced run of the
# ingest_serve workload on top of LAYERS
SERVE_LAYERS = (
    ("http_server.select_ms", "ms"),
    ("http_server.overhead_ms", "ms"),
    ("schema.ingest_ndjson_ms", "ms"),
    ("http_server.append_ms", "ms"),
    ("http_server.insert_p50_ms", "ms"),
    ("http_server.insert_p90_ms", "ms"),
    ("http_server.ingest_rows_per_s", "1/s"),
    ("http_server.flushes", "count"),
    ("http_server.flush_ms", "ms"),
    ("http_server.migrations", "count"),
    ("http_server.compactions", "count"),
    ("http_server.migrate_ms", "ms"),
    ("http_server.compact_ms", "ms"),
    ("http_server.flat_files_end", "count"),
    ("http_server.table_files_end", "count"),
    ("http_server.write_amp", "ratio"),
    ("http_server.stored_bytes_per_input_byte", "ratio"),
)


def pct(values: list[float], p: float) -> float:
    """Percentile ``p`` (0-100) with linear interpolation between ranks."""
    s = sorted(values)
    if not s:
        return 0.0
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def dir_bytes(path: str, suffix: str = "") -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(suffix)
    )


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


@dataclass
class Result:
    attempted: int
    failed: int
    e2e: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    extra_layers: tuple = ()

    def line(self, trace: int) -> dict:
        catalogue = LAYERS + self.extra_layers if trace else E2E
        vals = self.layers if trace else self.e2e
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                name: {"value": float(vals.get(name, 0.0)), "unit": unit}
                for name, unit in catalogue
            },
        }


class Context:
    """Per-run state: arguments, the scratch dir and the Spark session."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str,
                 t_process: float):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.t_process = t_process
        self.gen_s = 0.0
        self.spark = None

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def generate(self, fn, *args, **kwargs):
        """Run an input generator; its time is kept out of set-up time."""
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.gen_s += time.perf_counter() - t0

    def start_spark(self) -> float:
        """Start the session the program's own factory builds; returns the
        seconds from process start until the session is up, input
        generation excluded."""
        from victorialogs_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": self.path("warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - self.t_process - self.gen_s

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM plus this process, in MB."""
        kb = _vm_hwm_kb("self")
        if self.spark is not None:
            jvm = self.spark.sparkContext._jvm
            kb += _vm_hwm_kb(jvm.java.lang.ProcessHandle.current().pid())
        return kb / 1024.0

    def close(self) -> None:
        """Stop the session and wait until the JVM and every process it
        started (Python workers) have exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        tree = _descendants(proc.pid) if proc is not None else []
        self.spark.stop()
        self.spark = None
        if proc is None:
            return
        gw.shutdown()
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        for pid in tree:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, signal.SIGKILL)


def _descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def norm_rows(cols, rows):
    """The oracle sweep's order-insensitive row normalisation."""
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from check_oracle import norm_rows as _norm

    return _norm(cols, rows)
