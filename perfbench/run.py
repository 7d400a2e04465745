"""Benchmark entry point: one workload per fresh process.

    python3 perfbench/run.py --workload query_layout --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1

``--trace 0`` measures the end-to-end metrics with no tracing in place;
``--trace 1`` is the separate traced run that reports the per-layer
metrics. Either way the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it carries the workload's own figures and the seed. ``--workload all``
runs every workload, each in its own process, and prints each one's
lines.

Everything the run creates (inputs, layouts, spill dirs, Spark scratch,
temp files) lives in one directory under the checkout, removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_layout", "ingest_serve", "curate_batch")


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _run_all(a: argparse.Namespace) -> int:
    rc = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                              timeout=600, check=False)
        lines = proc.stdout.strip().splitlines()
        print(f"# {w} exit={proc.returncode}")
        for line in lines[-2:]:
            print(line)
        rc = rc or proc.returncode
    return rc


def _hygiene(work: str) -> int:
    """Environment every run pins before Spark starts: ``local[nproc]``
    with nproc shuffle partitions, the checkout on the workers'
    ``PYTHONPATH``, and all scratch inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher and the driver) keeps its temp files and
    # writes no hsperfdata file outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={tmp}") if p
    )
    tempfile.tempdir = tmp
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    return cpus


def main(argv: list[str]) -> int:
    a = _args(argv)
    if a.workload == "all":
        return _run_all(a)
    if not os.path.isdir(os.path.join(ROOT, "victorialogs_spark")):
        print("perfbench: victorialogs_spark/ not found next to perfbench/;"
              " run from a checkout of the repository", file=sys.stderr)
        return 2
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    try:
        cpus = _hygiene(work)
        import common
        import importlib

        ctx = common.Context(
            seed=a.seed, seconds=a.seconds, trace=bool(a.trace), work=work,
            t_process=T_PROCESS,
        )
        mod = importlib.import_module(f"wl_{a.workload}")
        try:
            res = mod.run(ctx)
            res.detail["peak_rss_mb"] = ctx.peak_rss_mb()
            res.detail["spark_driver_memory"] = os.environ.get(
                "SPARK_DRIVER_MEMORY", "unset (session default)"
            )
        finally:
            ctx.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "cpus": cpus, **res.detail}, sort_keys=True))
    print(json.dumps(res.line(a.trace), sort_keys=False))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
