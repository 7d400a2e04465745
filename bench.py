"""Headline benchmark: wall times of registry queries on
local[$SPARK_GRAFT_CPUS], plain or paired against a git ref.

    python bench.py [--sf N] [query ...]
    python bench.py [--sf N] --base REF [query ...]

Plain mode times the selected registry entries (the 22 of HEADLINE by
default) plus their layout twins — the same LogsQL text over the
day-partitioned, sidecar-indexed copy — and prints ONE JSON line with
every query's best and median and, when any query has a twin, the
layout section. `--sf 0.001/0.01/0.1` reads the testdata tree (default
$SPARK_GRAFT_SF_DIR or sf0.1) and writes no file into the repo; `--sf 1`
reads the derived 10x replica `.bench_sf1`, built by tools/make_sf1.py
on first use.

With `--base REF` it checks REF out into a temporary `git worktree`
and runs PAIRS pairs of fresh plain-mode processes, alternating which
arm goes first. Both arms run THIS file's timing code; each imports its
own `victorialogs_spark` on the driver and in the Python workers. Per
query it prints each arm's median and quartiles over the pairs, the
ratio of the medians and how many pairs HEAD won, in one JSON line. A
query "regressed" when HEAD loses at least 9 of 10 pairs and its median
is worse than base's by more than base's interquartile range;
"improved" is the mirror rule. The exit status is 1 if any query
regressed.

Query wall-times are per-query (action = noop-format write, which
materializes every output column — a `.count()` action would let Catalyst
prune columns the query semantically produces), measured after a warm-up
scan so JVM/codegen startup doesn't dominate.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))

# fresh-process pairs per --base comparison; the verdict needs 9 of 10
PAIRS = 10


def files_read(df) -> int | None:
    """Sum the executed plan's scan numFiles metrics — the number of
    files the query ACTUALLY read. inputFiles() can't tell: it lists
    the reader's whole FileIndex, before PartitionFilters apply.
    Executes the plan (toRdd().count()) to populate the metrics."""
    try:
        df._jdf.queryExecution().toRdd().count()
        total, seen = 0, False

        def walk(node):
            nonlocal total, seen
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numFiles":
                    total += kv._2().value()
                    seen = True
            name = node.nodeName()
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i))
            if name == "AdaptiveSparkPlan":
                walk(node.executedPlan())
            elif name.endswith("QueryStage"):
                walk(node.plan())

        walk(df._jdf.queryExecution().executedPlan())
        return int(total) if seen else None
    except Exception:
        return None


HEADLINE = [
    # name -> registry entry (victorialogs_spark/driver_entry.py)
    "f_word",                # token filter scan over events
    "f_time_range",          # time-partition pruned scan
    "s_stats_by",            # groupBy aggregate (count/sum/avg)
    "s_time_bucket",         # tumbling time-window aggregate
    "s_histogram",           # two-level vmrange histogram
    "p_top",                 # top-k by frequency
    "p_unpack_json",         # JSON field extraction
    "p_join",                # broadcast join with aggregated subquery
    "p_sort_desc_rank",      # global top-k with rank
    "tpch_pricing_summary",  # wide aggregate over lineitem
    "tpch_top_orders",       # agg + top-k over orders
    "tpch_ship_histogram",   # weekly rollup over lineitem
    "dp_exact_dedup",        # hash-groupBy dedup over documents
    "dp_minhash_lsh",        # banded MinHash-LSH near-dup pairs
    "dp_ngram_jaccard",      # exact n-gram Jaccard via gram-bucket join
    "dp_cosine_threshold",   # exact cosine scan over embeddings
    "dp_repetition",         # narrow-map repetition quality signals
    "dp_dup_clusters",       # iterative connected-components clustering
    "dp_unigram_logprob",    # token-freq aggregate + join-back scoring
    "dp_pack_sequences",     # shard-windowed sequence packing
    "dp_repeated_spans",     # rolling-hash cross-doc span statistics
    "dp_tfidf_terms",        # tf/df aggregates + per-doc top-k window
]

LAYOUT_QUERIES = {
    # 2 of 30 days -> PartitionFilters prune 28 day directories
    "time_2days": "_time:[2024-01-10, 2024-01-12) | stats count() as n",
    # stream filter + time range: partition prune AND sidecar file
    # prune compose (1 of 5 event_type streams in the kept days)
    "stream_2days": '{event_type="click"}'
    " _time:[2024-01-10, 2024-01-12) | stats count() as n",
    # sidecar-only prune across every day
    "stream_scan": '{event_type="click"} | stats count() as n',
}


def data_dir(sf_arg: str | None) -> str:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if sf_arg is not None:
        if sf_arg in ("1", "1.0"):
            sf_dir = os.path.join(HERE, ".bench_sf1")
            if not os.path.exists(os.path.join(sf_dir, "lineitem.parquet")):
                subprocess.run(
                    [sys.executable, os.path.join(HERE, "tools", "make_sf1.py")],
                    check=True,
                )
        else:
            sf_dir = f"/root/testdata/sf{sf_arg}"
    return sf_dir


def result_line(
    sf: float | None,
    cpus: int,
    samples: dict[str, list[float]],
    layout_samples: dict[str, list[float]],
    layout: dict | None,
    module_file: str,
    worker_module_files: list[str],
) -> str:
    """The plain-mode JSON line: best and median of EVERY timed query
    (never trimmed), the layout section and the module files the driver
    and the Python workers imported."""
    best = {n: round(min(s), 4) for n, s in samples.items()}
    return json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": round(sum(best.values()), 4),
            "unit": "sec",
            "sf": sf,
            "cpus": cpus,
            # action materializes EVERY output column; "best" is min over
            # hot runs (ClickBench convention), medians alongside
            "action": "noop_write",
            "stat": "best_of_runs",
            "queries": best,
            "query_medians": {
                n: round(statistics.median(s), 4) for n, s in samples.items()
            },
            "queries_layout": {
                n: round(min(s), 4) for n, s in layout_samples.items()
            },
            "layout_query_medians": {
                n: round(statistics.median(s), 4)
                for n, s in layout_samples.items()
            },
            "layout": layout,
            "module_file": module_file,
            "worker_module_files": worker_module_files,
        }
    )


def timed_runs(spark, runs: int, action) -> list[float]:
    """Wall times of `runs` calls of `action() -> DataFrame` + noop write,
    after clearing cached frames, each with the session's partition count."""
    shuffle_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # drop frames cached by PREVIOUS entries (several dp operators cache
    # mid-plan intermediates): leftover blocks inflate GC and executor
    # memory pressure for later queries — measured 4x noise on
    # dp_dup_clusters when 20 earlier entries' caches were live
    spark.catalog.clearCache()
    samples = []
    for _ in range(runs):
        # dp entries tune shuffle partitions internally on some paths;
        # re-pin before each run so no query inherits another's setting
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_parts)
        # timer wraps DF construction too: iterative operators
        # (connected components) execute jobs eagerly while building the
        # result DF — timing only the final action would miss them
        t0 = time.monotonic()
        action().write.format("noop").mode("overwrite").save()
        samples.append(time.monotonic() - t0)
    return samples


def run_plain(sf_dir: str, names: list[str]) -> str:
    import victorialogs_spark
    from victorialogs_spark.driver_entry import LOGSQL_TEXT, QUERIES

    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"bench.py: unknown registry entries {unknown}")

    from victorialogs_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: touch the main tables once (JVM + reader init), and run one
    # trivial Arrow pandas UDF so the Python worker pool + Arrow transfer
    # path is initialized before any dp_* query is timed. The UDF reports
    # which victorialogs_spark the workers import (--base checks it).
    import pandas as pd
    from pyspark.sql import functions as F

    from victorialogs_spark.schema import events_as_logs, load_table

    events_as_logs(spark, sf_dir).count()
    load_table(spark, sf_dir, "lineitem").count()
    load_table(spark, sf_dir, "orders").count()

    def _worker_module(s):
        import victorialogs_spark

        return pd.Series([victorialogs_spark.__file__] * len(s))

    # set annotations directly: `from __future__ import annotations` above
    # would stringify inline hints, which pandas_udf can't resolve
    _worker_module.__annotations__ = {"s": pd.Series, "return": pd.Series}
    worker_module = F.pandas_udf(_worker_module, "string")
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    worker_module_files = sorted(
        r[0] for r in docs.select(worker_module(F.col("text"))).distinct().collect()
    )

    # hot-run convention (same as the ClickBench methodology the reference
    # benchmarks under): run each query N times, report best and median;
    # the noisiest (pandas-UDF dp_*) get 4 runs
    samples: dict[str, list[float]] = {}
    for name in names:
        fn = QUERIES[name]
        runs = 4 if name.startswith("dp_") else 3
        samples[name] = timed_runs(spark, runs, lambda: fn(spark, sf_dir))
        print(f"# {name}: {min(samples[name]):.3f}s", file=sys.stderr)

    # the layout section runs whenever a selected query has a layout twin
    layout = None
    layout_samples: dict[str, list[float]] = {}
    twins = [n for n in names if n in LOGSQL_TEXT]
    if twins:
        layout, layout_samples = run_layout(spark, sf_dir, twins)

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    cpus = int(spark.sparkContext.defaultParallelism)
    return result_line(
        sf, cpus, samples, layout_samples, layout,
        victorialogs_spark.__file__, worker_module_files,
    )


def run_layout(spark, sf_dir: str, twins: list[str]):
    """Production-layout section: every headline scan reads ONE raw
    parquet file; at 100 TB the layout IS the query plan, so this builds
    the day-partitioned, compact_day-clustered, sidecar-indexed copy,
    records per pruning query files read vs listed and PartitionFilters,
    and times the `twins` (events-based headline entries, same LogsQL
    text) over it. Returns (layout section, twin samples)."""
    from victorialogs_spark.api import run_query
    from victorialogs_spark.driver_entry import LOGSQL_TEXT
    from victorialogs_spark.schema import events_as_logs
    from victorialogs_spark.streaming.ingest import build_log_layout

    layout_dir = os.environ.get(
        "SPARK_GRAFT_LAYOUT_DIR",
        "/tmp/vl_layout_" + os.path.basename(os.path.normpath(sf_dir)),
    )
    t0 = time.monotonic()
    build_log_layout(
        spark,
        events_as_logs(spark, sf_dir),
        layout_dir,
        stream_fields=["_stream_id", "event_type"],
        # files-per-day ~ stream count: compaction hash-partitions files
        # by _stream_id, so each file holds ~one stream and the sidecar
        # can prune at file granularity (5 event_type streams here)
        target_files=5,
    )
    build_sec = round(time.monotonic() - t0, 4)
    table_files = len(spark.read.parquet(layout_dir).inputFiles())
    raw_logs = events_as_logs(spark, sf_dir)

    queries: dict[str, dict] = {}
    for name, q in LAYOUT_QUERIES.items():
        entry: dict = {}
        for kind, src in (("layout", layout_dir), ("raw", raw_logs)):
            runs = timed_runs(spark, 3, lambda: run_query(spark, src, q))
            entry[f"{kind}_sec"] = round(min(runs), 4)
        df = run_query(spark, layout_dir, q)
        # files surviving the SIDECAR prune (the reader's list)...
        entry["files_listed"] = len(df.inputFiles())
        # ...and files actually READ (after PartitionFilters too)
        entry["files_read"] = files_read(df)
        plan = df._jdf.queryExecution().executedPlan().toString()
        pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        entry["partition_filters"] = bool(pf and pf.group(1).strip())
        queries[name] = entry
        print(
            f"# layout {name}: {entry['layout_sec']:.3f}s, read "
            f"{entry['files_read']}/{table_files} files "
            f"(sidecar kept {entry['files_listed']}; "
            f"raw single-file: {entry['raw_sec']:.3f}s; "
            f"PartitionFilters={entry['partition_filters']})",
            file=sys.stderr,
        )

    samples: dict[str, list[float]] = {}
    for name in twins:
        q = LOGSQL_TEXT[name]
        samples[name] = timed_runs(
            spark, 3, lambda: run_query(spark, layout_dir, q)
        )
        print(
            f"# layout-headline {name}: {min(samples[name]):.3f}s",
            file=sys.stderr,
        )
    section = {"build_sec": build_sec, "table_files": table_files, "queries": queries}
    return section, samples


# ------------------------------------------------------------ --base mode


def paired_verdict(head: list[float], base: list[float]) -> dict:
    """Per-query summary of paired samples (head[i] and base[i] come from
    pair i). "regressed": HEAD lost at least 9 in 10 pairs AND its median
    is worse than base's by more than base's interquartile range;
    "improved" mirrors it."""
    n = len(head)
    wins = sum(h < b for h, b in zip(head, base))
    losses = sum(h > b for h, b in zip(head, base))
    hq = statistics.quantiles(head, n=4, method="inclusive")
    bq = statistics.quantiles(base, n=4, method="inclusive")
    iqr = bq[2] - bq[0]
    verdict = "same"
    if losses * 10 >= 9 * n and hq[1] - bq[1] > iqr:
        verdict = "regressed"
    elif wins * 10 >= 9 * n and bq[1] - hq[1] > iqr:
        verdict = "improved"
    return {
        "head_median": round(hq[1], 4),
        "head_q1": round(hq[0], 4),
        "head_q3": round(hq[2], 4),
        "base_median": round(bq[1], 4),
        "base_q1": round(bq[0], 4),
        "base_q3": round(bq[2], 4),
        "ratio": round(hq[1] / bq[1], 3) if bq[1] > 0 else None,
        "head_wins": wins,
        "pairs": n,
        "verdict": verdict,
    }


def arm_python(root: str, environ: dict | None = None) -> tuple[list[str], dict]:
    """(interpreter argv, env) for a fresh process whose driver AND Python
    workers import `root`'s victorialogs_spark. `-P` keeps the script's
    own directory off sys.path, so PYTHONPATH's first entry (`root`)
    comes first; workers run `-m pyspark.daemon` from the driver's cwd,
    which the caller sets to `root`. The core count is pinned so both
    arms' sessions get the same local[N] whatever their defaults."""
    env = dict(os.environ if environ is None else environ)
    rest = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    env["PYTHONPATH"] = os.pathsep.join([root] + rest)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    return [sys.executable, "-P"], env


def run_arm(root: str, args: list[str]) -> dict:
    """One fresh plain-mode process of this file against `root`; returns
    its JSON line after checking where victorialogs_spark came from."""
    argv, env = arm_python(root)
    proc = subprocess.run(
        argv + [os.path.abspath(__file__)] + args,
        env=env, cwd=root, stdout=subprocess.PIPE, text=True,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode or not lines:
        raise SystemExit(f"bench.py: arm {root} failed (exit {proc.returncode})")
    rec = json.loads(lines[-1])
    prefix = os.path.join(os.path.realpath(root), "")
    for f in [rec["module_file"]] + rec["worker_module_files"]:
        if not os.path.realpath(f).startswith(prefix):
            raise SystemExit(
                f"bench.py: arm {root} imported victorialogs_spark from {f}"
            )
    return rec


@contextlib.contextmanager
def base_checkout(ref: str):
    """Yield (root, sha) of `ref` checked out detached in a temporary git
    worktree, removed again on exit."""
    sha = subprocess.run(
        ["git", "-C", HERE, "rev-parse", "--verify", f"{ref}^{{commit}}"],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout.strip()
    tmp = tempfile.mkdtemp(prefix="bench-base-")
    root = os.path.join(tmp, "base")
    subprocess.run(
        ["git", "-C", HERE, "worktree", "add", "--detach", root, sha],
        check=True, stdout=subprocess.DEVNULL,
    )
    try:
        yield root, sha
    finally:
        subprocess.run(["git", "-C", HERE, "worktree", "remove", "--force", root])
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(["git", "-C", HERE, "worktree", "prune"])


def run_paired(ref: str, args: list[str]) -> tuple[str, bool]:
    """PAIRS alternating-order pairs of fresh head/base processes; returns
    (JSON line, any query regressed)."""
    with base_checkout(ref) as (base_root, sha):
        roots = {"head": HERE, "base": base_root}
        samples: dict[str, dict[str, list[float]]] = {"head": {}, "base": {}}
        arms: dict[str, dict] = {}
        for i in range(PAIRS):
            for arm in ("head", "base") if i % 2 == 0 else ("base", "head"):
                rec = run_arm(roots[arm], args)
                if arm not in arms:
                    arms[arm] = {
                        "root": roots[arm],
                        "module_file": rec["module_file"],
                        "worker_module_files": rec["worker_module_files"],
                    }
                    print(
                        f"# {arm} victorialogs_spark: {rec['module_file']}",
                        file=sys.stderr,
                    )
                meds = dict(rec["query_medians"])
                meds.update(
                    (f"layout:{n}", v)
                    for n, v in rec["layout_query_medians"].items()
                )
                for n, v in meds.items():
                    samples[arm].setdefault(n, []).append(v)
            print(f"# pair {i + 1}/{PAIRS} done", file=sys.stderr)
    queries = {
        n: paired_verdict(samples["head"][n], samples["base"][n])
        for n in samples["head"]
    }
    for n, v in queries.items():
        print(
            f"# {n}: head {v['head_median']:.3f}s "
            f"[{v['head_q1']:.3f}, {v['head_q3']:.3f}] base "
            f"{v['base_median']:.3f}s [{v['base_q1']:.3f}, {v['base_q3']:.3f}]"
            f" ratio {v['ratio']} head won {v['head_wins']}/{v['pairs']}"
            f" {v['verdict']}",
            file=sys.stderr,
        )
    regressed = sorted(n for n, v in queries.items() if v["verdict"] == "regressed")
    line = json.dumps(
        {
            "metric": "paired_median_ratio",
            "base": ref,
            "base_sha": sha,
            "pairs": PAIRS,
            "arms": arms,
            "queries": queries,
            "regressed": regressed,
            "improved": sorted(
                n for n, v in queries.items() if v["verdict"] == "improved"
            ),
        }
    )
    return line, bool(regressed)


def main() -> int:
    ap = argparse.ArgumentParser(
        description="Time headline registry queries, plain or paired "
        "against a git ref (see the module docstring)."
    )
    ap.add_argument("--sf", help="scale factor: 0.001/0.01/0.1 or 1")
    ap.add_argument("--base", metavar="REF", help="compare against this git ref")
    ap.add_argument("queries", nargs="*", metavar="query",
                    help="registry entries to time (default: HEADLINE)")
    args = ap.parse_args()
    if args.base:
        child = (["--sf", args.sf] if args.sf else []) + args.queries
        line, regressed = run_paired(args.base, child)
        print(line)
        return 1 if regressed else 0
    line = run_plain(data_dir(args.sf), args.queries or HEADLINE)
    sys.stderr.flush()
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
