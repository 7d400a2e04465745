"""curate_batch: curation jobs over the seeded documents corpus.

Each pass runs five registry entries of ``victorialogs_spark.driver_entry``
(``dp_curate``, ``dp_quality``, ``dp_minhash_lsh``, ``dp_tfidf_terms``,
``dp_unigram_logprob``) in a seeded order and collects each result. The
first, cold pass is set-up; the timed window runs whole warm passes.
These jobs use the curation operators, the Arrow/pandas UDF stages,
shuffles, broadcasts and the eager connected-components jobs, and none
of the index, LogsQL or HTTP layers.

Correctness: each job's first-pass rows are compared with the DuckDB
query in ``driver_entry.ORACLE`` after normalisation by the oracle
sweep's ``norm_rows``; an entry with no oracle query (rows-only in the
sweep) is checked on its row count, which must be positive. Every warm
run of a job must return the first pass's row count. Each mismatch
counts as failed.
"""

from __future__ import annotations

import time

import common
import gen
from common import Result, log, median, pct

DOCS = 3_000
MIN_PASSES = 3


def _oracle_check(src: str, first: dict) -> int:
    """Compare first-pass rows with the DuckDB oracle; returns failures."""
    import duckdb
    from victorialogs_spark.driver_entry import ORACLE

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{src}/documents.parquet')"
    )
    bad = 0
    for name, (cols, rows) in first.items():
        if name not in ORACLE:
            ok = len(rows) > 0
        else:
            cur = con.execute(ORACLE[name])
            d_cols = [d[0] for d in cur.description]
            ok = sorted(cols) == sorted(d_cols) and common.norm_rows(
                cols, rows
            ) == common.norm_rows(d_cols, cur.fetchall())
        if not ok:
            log(f"MISMATCH {name}")
            bad += 1
    con.close()
    return bad


def run(ctx) -> Result:
    from tracer import Tracer

    src = ctx.generate(gen.write_tables, ctx.path("input"), ctx.seed, docs=DOCS)
    order = gen.curate_order(ctx.seed, 200)
    tr = Tracer() if ctx.trace else None
    t_session = ctx.start_spark()
    spark = ctx.spark
    from planstats import JobCounter, PLAN_KEYS, plan_metrics
    from victorialogs_spark.driver_entry import QUERIES

    jobs = JobCounter(spark)

    # set-up: the cold pass, whose rows feed the correctness check
    t0 = time.perf_counter()
    first = {}
    for name in order[0]:
        df = QUERIES[name](spark, src)
        first[name] = (df.columns, [tuple(r) for r in df.collect()])
    cold = time.perf_counter() - t0
    setup_s = t_session + cold
    log(f"curate_batch: session {t_session:.2f}s cold pass {cold:.2f}s")

    job_s: dict[bool, list[float]] = {False: [], True: []}
    per_job = {t: {n: [] for n in gen.CURATE_JOBS} for t in (False, True)}
    pass_s: dict[bool, list[float]] = {False: [], True: []}
    counts_bad = 0
    plan_tot = {k: 0 for k in PLAN_KEYS}
    job_tot = {"jobs": 0, "stages": 0, "tasks": 0}
    eager_jobs = 0
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    p = 1
    while time.perf_counter() < deadline or p <= MIN_PASSES:
        # the traced run alternates untraced and traced passes
        traced = tr is not None and p % 2 == 0
        tp = time.perf_counter()
        for name in order[p]:
            t0 = time.perf_counter()
            if traced:
                with tr.span("job"):
                    with jobs.group("build") as gb, tr.span("datapipe.build"):
                        df = QUERIES[name](spark, src)
                    with tr.span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with jobs.group("run") as gr, tr.span("exec.run"):
                        rows = df.collect()
            else:
                rows = QUERIES[name](spark, src).collect()
            dt = time.perf_counter() - t0
            job_s[traced].append(dt)
            per_job[traced][name].append(dt)
            if traced:
                for k, v in plan_metrics(df).items():
                    plan_tot[k] += v
                eager = jobs.counts(gb)
                eager_jobs += eager["jobs"]
                for k, v in jobs.counts(gr).items():
                    job_tot[k] += v + eager[k]
            if len(rows) != len(first[name][1]):
                log(f"row count changed: {name} {len(first[name][1])} -> {len(rows)}")
                counts_bad += 1
        pass_s[traced].append(time.perf_counter() - tp)
        p += 1
    wall = time.perf_counter() - t_start

    failed = counts_bad + _oracle_check(src, first)
    runs = len(job_s[False]) + len(job_s[True])
    attempted = runs + len(first)
    lat = job_s[False]
    detail = {
        "passes": p - 1,
        "curate_pass_s": median(pass_s[False]),
        "job_s": {n: round(median(xs), 3) for n, xs in per_job[False].items()},
        "pass_s": [round(x, 3) for x in pass_s[False] + pass_s[True]],
        "failed_frac": failed / attempted,
    }
    log(f"curate_batch: {detail}")
    res = Result(
        attempted=attempted,
        failed=failed,
        e2e={
            "setup_s": setup_s,
            "query_p50_ms": 1000 * pct(lat, 50),
            "query_p90_ms": 1000 * pct(lat, 90),
            "queries_per_s": len(lat) / wall,
        },
        detail=detail,
    )
    if tr:
        tr.restore()
        n = max(len(job_s[True]), 1)
        self_ms, unattributed, total = tr.layer_self_ms("job")
        res.layers = {
            "datapipe.build_ms": tr.total_ms("datapipe.build") / n,
            "datapipe.eager_jobs": eager_jobs / n,
            "datapipe.pass_s": median(pass_s[True]),
            "catalyst.plan_ms": self_ms.get("catalyst", 0.0) / n,
            "exec.run_ms": self_ms.get("exec", 0.0) / n,
            "trace.unattributed_frac": unattributed / total if total else 0.0,
            "trace.overhead_frac": (
                median(pass_s[True]) / median(pass_s[False]) - 1.0
                if pass_s[False] and pass_s[True] else 0.0
            ),
        }
        for name, xs in per_job[True].items():
            res.layers[f"datapipe.{name}_s"] = median(xs)
        for k, v in job_tot.items():
            res.layers[f"exec.{k}"] = v / n
        for k, v in plan_tot.items():
            layer = "functions" if k.startswith("py_") else "exec"
            res.layers[f"{layer}.{k}"] = v / n
    return res
