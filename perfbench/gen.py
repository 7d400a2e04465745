"""Seeded input generation for the benchmark.

Everything a workload feeds the program comes from here and from one
``seed``: the events table, the documents corpus, the LogsQL query
stream, the NDJSON insert batches and the curation job order. The same
seed gives byte-identical files and the same draws; another seed moves
every draw.

The tables mirror the shapes of the repo's synthetic test data (an
``events`` log table and a ``documents`` text corpus) so the registry
entries in ``victorialogs_spark.driver_entry`` run on them unchanged:

- events: ``event_id, ts, user_id, event_type, value, props``; ``props``
  is a JSON object whose ``req`` token is nearly unique per row, so a
  word filter on it is what a bloom sidecar exists to prune;
- documents: ``doc_id, text, lang, source, n_chars``; words come from a
  30-word vocabulary, 5 % of documents are near-duplicates of an earlier
  original (its text plus ``dup``) and 0.2 % are exact duplicates.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.145, 0.145)
CURATE_JOBS = (
    "dp_curate", "dp_quality", "dp_minhash_lsh", "dp_tfidf_terms",
    "dp_unigram_logprob",
)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per input stream, so adding a draw to
    one stream never shifts another."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def day_str(day: int) -> str:
    return f"2024-01-{day + 1:02d}"


def events_table(seed: int, rows: int, days: int) -> pa.Table:
    r = _rng(seed, "events")
    ts = np.sort(r.integers(EPOCH_US, EPOCH_US + days * DAY_US, rows))
    k = r.integers(0, 100, rows)
    req = r.integers(0, 2**32, rows)
    props = [f'{{"k": {a}, "req": "q{b:08x}"}}' for a, b in zip(k, req)]
    return pa.table({
        "event_id": pa.array(np.arange(rows), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(10, rows // 67), rows), pa.int64()),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in r.integers(0, len(EVENT_TYPES), rows)],
            pa.string(),
        ),
        "value": pa.array(np.round(r.gamma(2.0, 25.0, rows), 2), pa.float64()),
        "props": pa.array(props, pa.string()),
    })


def documents_table(seed: int, docs: int) -> pa.Table:
    r = _rng(seed, "documents")
    lengths = r.integers(10, 101, docs)
    kind = r.random(docs)
    texts: list[str] = []
    originals: list[int] = []  # duplicates copy only these, so every
    # duplicate cluster is a star around one original
    for i in range(docs):
        if originals and kind[i] < 0.002:
            texts.append(texts[originals[int(r.integers(0, len(originals)))]])
        elif originals and kind[i] < 0.052:
            texts.append(
                texts[originals[int(r.integers(0, len(originals)))]] + " dup"
            )
        else:
            words = r.integers(0, len(VOCAB), lengths[i])
            texts.append(" ".join(VOCAB[w] for w in words))
            originals.append(i)
    langs = r.choice(len(LANGS), docs, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in langs], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_tables(
    dst: str, seed: int, events: int = 0, days: int = 5, docs: int = 0
) -> str:
    """Write ``events.parquet`` and/or ``documents.parquet`` under
    ``dst`` (the directory layout the registry entries read)."""
    os.makedirs(dst, exist_ok=True)
    if events:
        pq.write_table(
            events_table(seed, events, days), f"{dst}/events.parquet",
            compression="zstd",
        )
    if docs:
        pq.write_table(
            documents_table(seed, docs), f"{dst}/documents.parquet",
            compression="zstd",
        )
    return dst


def dashboard(seed: int, events: pa.Table, days: int) -> list[str]:
    """One LogsQL query per template, eleven in all, with seeded
    parameters: a dashboard's panels. Selective panels (a time window, a
    stream, a bloom-pruned request id) sit beside full scans (group-bys,
    top, count_uniq, histogram, rank, unpack_json, join)."""
    r = _rng(seed, "queries")
    req = json.loads(
        events.column("props")[int(r.integers(0, events.num_rows))].as_py()
    )["req"]

    # the four windowed panels cover 1, 2, 3 and 5 days in a seeded
    # order, so every dashboard asks for the same total span
    spans = iter(int(x) for x in r.permutation([1, 2, 3, min(5, days)]))

    def window() -> str:
        span = next(spans)
        start = int(r.integers(0, days - span + 1))
        return f"_time:[{day_str(start)}, {day_str(start + span)})"

    def et() -> str:
        return EVENT_TYPES[int(r.integers(0, len(EVENT_TYPES)))]

    def pick(xs):
        return xs[int(r.integers(0, len(xs)))]

    return [
        f"{window()} | stats count() as n",
        f'{{event_type="{et()}"}} {window()} | stats count() as n, sum(value) as s',
        f'"{req}" | sort by (_time) desc | limit 10 | fields _time, event_id, _msg',
        "* | stats by (event_type) count() as hits, avg(value) as av",
        f"* | stats by (_time:{pick(('1h', '6h', '1d'))}) count() as hits",
        f'{{event_type="{et()}"}} | stats histogram(value) as h',
        f"* | top {pick((3, 5, 10))} by (user_id)",
        "* | stats by (event_type) count_uniq(user_id) as u",
        f"{window()} | sort by (value, event_id) desc limit {pick((5, 10))}"
        " rank as r | fields event_id, value, r",
        f'{{event_type="{et()}"}} | unpack_json from _msg fields (k)'
        " | stats by (k) count() as n",
        f"{window()} | join by (event_type)"
        " (* | stats by (event_type) count() as total)"
        " | stats by (event_type) count() as n, max(total) as t",
    ]


def refresh_order(seed: int, panels: int, cycles: int) -> list[int]:
    """Panel indexes in the order the client sends them: the dashboard
    refreshes every panel once per cycle, in a seeded order."""
    r = _rng(seed, "refresh")
    return [int(i) for _ in range(cycles) for i in r.permutation(panels)]


def ndjson_batch(seed: int, batch: int, lines: int, app: str) -> str:
    """One insert request body: ``lines`` NDJSON log lines of stream
    ``{app=...}``, time-stamped inside 2024-02-01 so they land in days the
    preloaded table does not hold."""
    r = _rng(seed, f"ndjson{batch}")
    secs = np.sort(r.integers(0, 86_400, lines))
    lvl = r.integers(0, 3, lines)
    val = r.integers(0, 10_000, lines)
    out = []
    for i in range(lines):
        s = int(secs[i])
        out.append(json.dumps({
            "_time": f"2024-02-01T{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}Z",
            "_msg": f"batch {batch} line {i} took {int(val[i])}ms",
            "app": app,
            "level": ("info", "warn", "error")[int(lvl[i])],
            "value": int(val[i]),
        }))
    return "\n".join(out)


def curate_order(seed: int, passes: int) -> list[list[str]]:
    """The job order of each curation pass, a seeded permutation per pass."""
    r = _rng(seed, "curate")
    return [[CURATE_JOBS[i] for i in r.permutation(len(CURATE_JOBS))]
            for _ in range(passes)]
