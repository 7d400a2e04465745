"""Deduplication operators for large-scale training-data pipelines.

All operators are DataFrame-native and scale-safe: candidate generation
shuffles on hash buckets (band buckets for MinHash-LSH, gram buckets for
n-gram Jaccard) — never an all-pairs cartesian. Exact verification runs
only within candidate buckets.

Operators:
- exact_dedup          — normalized-text fingerprint (md5) group-dedup
- minhash_signatures   — k char-shingle MinHash sketch (JVM-side xxhash64)
- lsh_candidate_pairs  — banded LSH bucketing → candidate pairs
- minhash_near_dups    — LSH candidates verified by signature similarity
- ngram_jaccard_pairs  — exact token-n-gram Jaccard via inverted-index
                         posting lists (join-free: pairs generated locally
                         inside each gram's bucket)
- simhash              — 64-bit SimHash (Arrow-batched pandas UDF)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_text(c: Column) -> Column:
    """Lowercase + collapse whitespace: the canonical dedup key transform."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def py_normalize_text(text: str | None) -> str | None:
    """Python-side mirror of :func:`normalize_text` for pandas-UDF paths.
    Must track JVM semantics exactly: Java regex ``\\s`` is ASCII-only
    ([ \\t\\n\\x0b\\f\\r]) while Python ``\\s`` matches Unicode whitespace
    (\\xa0, \\u2028, ...) — using the Python class would make fingerprints
    diverge from exact_dedup/fingerprint() on such inputs. NULL stays None
    (Spark md5(NULL) is NULL, not md5(''))."""
    import re

    if text is None:
        return None
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip(" ")


def fingerprint(c: Column) -> Column:
    """Deterministic 128-bit content fingerprint (md5 hex) of normalized text."""
    return F.md5(F.encode(normalize_text(c), "UTF-8"))


import re as _re  # noqa: E402  (module-scope: compiled once per process)

# Exactly Java's \s class ([ \t\n\x0B\f\r]) -- what Spark-side \s+
# splits and Column rebuilds see. Python str.split() splits Unicode
# whitespace (\xa0, \u2028, ...) that the JVM does NOT, which would
# misalign token positions between the Arrow hashers and Column
# rebuilds (the py_normalize_text trap); RE2's \s additionally omits
# \x0b, so DuckDB oracles must spell the SAME explicit class instead
# of '\s+' (driver_entry._NORM does). Use this for any UDF whose token
# INDEXES or strings must match an engine-side split.
_ASCII_WS = _re.compile(r"[ \t\n\r\f\v]+")


def ascii_tokens(text: str | None) -> list[str]:
    """Lowercased ASCII-whitespace tokens, engine-aligned (see _ASCII_WS)."""
    return [t for t in _ASCII_WS.split((text or "").lower()) if t]


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str, keep: str = "min"
) -> DataFrame:
    """Exact near-identical dedup: one representative per normalized-text
    fingerprint. Output: (fp, <id_col> representative, n_copies). A single
    hash-shuffle groupBy — the canonical 100 TB exact-dedup plan."""
    agg = F.min(F.col(id_col)) if keep == "min" else F.max(F.col(id_col))
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(agg.alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def dedup_keep_best(
    df: DataFrame, id_col: str, text_col: str, score_col: str
) -> DataFrame:
    """Exact dedup keeping the BEST copy per normalized-content
    fingerprint (highest ``score_col``, ties broken by max id — fully
    deterministic). The curation form of exact_dedup: when near-identical
    copies differ in quality metadata, keep the one worth training on.
    Single hash-shuffle groupBy with max_by — no window, no sort."""
    key = F.struct(F.col(score_col), F.col(id_col))
    return (
        df.select(
            fingerprint(F.col(text_col)).alias("fp"),
            F.col(id_col),
            F.col(score_col),
        )
        .groupBy("fp")
        .agg(
            F.max_by(F.col(id_col), key).alias(id_col),
            F.max(F.col(score_col)).alias(score_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def char_shingles(c: Column, k: int = 5) -> Column:
    """Distinct k-character shingles of normalized text (array<string>)."""
    s = normalize_text(c)
    n = F.greatest(F.length(s) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substr(s, i, F.lit(k)))
    )


def token_ngrams(c: Column, n: int = 3) -> Column:
    """Distinct word n-grams of normalized text (array<string>)."""
    toks = F.filter(F.split(normalize_text(c), r"\s+"), lambda t: t != "")
    cnt = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    # try_element_at: docs shorter than n tokens index past the array end,
    # which THROWS under default ANSI mode (plain element_at); the nulls
    # drop out of concat_ws, leaving one short gram — intended semantics
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), cnt),
            lambda i: F.concat_ws(
                " ", *[F.try_element_at(toks, i + j) for j in range(n)]
            ),
        )
    )


def minhash_signatures_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_k: int = 3,
    shingle: str = "token",
    bands: int | None = None,
) -> DataFrame:
    """MinHash sketch via a vectorized Arrow pandas UDF: the whole batch's
    grams are hashed in ONE C call (``pd.util.hash_array``, SipHash with a
    fixed key — deterministic across processes), then every signature slot
    is a segmented ``np.minimum.reduceat`` over multiply-shift re-hashes.
    Zero per-gram Python: one narrow map, no shuffle, no hashlib.

    Output: (<id_col>, sig array<long>[num_hashes]) — plus, when ``bands``
    is given, bk array<long>[bands]: one 64-bit bucket per signature band,
    a vectorized polynomial mix of the band's slots (two docs share a
    bucket iff their band slices are equal, up to a ~2^-64/pair collision
    — the same guarantee as hashing the slice's string form, minus the
    per-doc ``bands*rows`` long→string conversions the JVM expression
    would pay; measured 1.76 → 1.42 s median on the end-to-end sf1
    minhash query, SCALE.md r14). The multi-field output rides in ONE
    struct from ONE Python pass; the UDF is asNondeterministic because
    extracting two fields from it would otherwise let CollapseProject
    clone the whole sketch into each extraction — the measured 2x
    pathology, SCALE.md r14.
    """
    import numpy as np
    import pandas as pd

    # multiply-shift universal hashing: odd random multipliers, uint64 wrap
    # (fully vectorized C arithmetic — no Python bigints)
    rng = np.random.RandomState(42)
    A = (rng.randint(0, 1 << 62, size=num_hashes).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    if bands is not None:
        rows_per_band = check_banding(num_hashes, bands)
    _POLY = np.uint64(0x9E3779B97F4A7C15)  # odd 64-bit mix constant

    def _grams(text: str) -> set:
        # ascii_tokens, NOT str.split(): Python's split breaks on Unicode
        # whitespace the JVM/oracle token paths (token_ngrams,
        # minhash_signatures_md5) do not — the py_normalize_text trap
        # (r15 eighth-pass finding)
        toks = ascii_tokens(text)
        if shingle == "token":
            k = shingle_k
            if len(toks) < k:
                return {" ".join(toks)} if toks else {""}
            return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
        s = " ".join(toks)
        k = shingle_k
        if len(s) < k:
            return {s}
        return {s[i : i + k] for i in range(len(s) - k + 1)}

    def _sketch(series):
        texts = series.tolist()
        flat: list = []
        starts = np.empty(len(texts), dtype=np.int64)
        for i, text in enumerate(texts):
            starts[i] = len(flat)
            flat.extend(_grams(text))
        # reduceat correctness REQUIRES >=1 gram per row (an empty segment
        # silently takes the next row's value; a trailing one raises) —
        # _grams guarantees it, this guards the invariant against edits
        if texts and len(flat) <= int(starts[-1]):
            raise AssertionError("minhash: _grams returned 0 grams for a row")
        hs = pd.util.hash_array(np.asarray(flat, dtype=object)).astype(np.uint64)
        sig = np.empty((len(texts), num_hashes), dtype=np.uint64)
        for j in range(num_hashes):
            sig[:, j] = np.minimum.reduceat(A[j] * hs, starts)
        return sig

    if bands is None:

        def _sig(series):
            if not len(series):
                return pd.Series([], dtype=object)
            return pd.Series(_sketch(series).view(np.int64).tolist())

        _sig.__annotations__ = {"series": pd.Series, "return": pd.Series}
        udf = F.pandas_udf(_sig, "array<long>")
        return df.select(F.col(id_col), udf(F.col(text_col)).alias("sig"))

    def _sig_bk(series):
        if not len(series):
            return pd.DataFrame({"sig": [], "bk": []})
        sig = _sketch(series)
        bk = np.zeros((sig.shape[0], bands), dtype=np.uint64)
        for b in range(bands):
            acc = np.zeros(sig.shape[0], dtype=np.uint64)
            for j in range(rows_per_band):
                acc = acc * _POLY + sig[:, b * rows_per_band + j]
            bk[:, b] = acc
        return pd.DataFrame(
            {"sig": sig.view(np.int64).tolist(), "bk": bk.view(np.int64).tolist()}
        )

    _sig_bk.__annotations__ = {"series": pd.Series, "return": pd.DataFrame}
    udf = F.pandas_udf(_sig_bk, "sig array<long>, bk array<long>").asNondeterministic()
    out = df.select(F.col(id_col), udf(F.col(text_col)).alias("__s"))
    return out.select(
        F.col(id_col), F.col("__s.sig").alias("sig"), F.col("__s.bk").alias("bk")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_k: int = 5,
    shingle: str = "char",
) -> DataFrame:
    """MinHash sketch: for each of ``num_hashes`` seeded hash functions,
    the minimum hash over the document's char shingles. Entirely JVM-side
    (whole-stage codegen); one narrow map, no shuffle.

    Each shingle is string-hashed ONCE (xxhash64), then the k hash
    functions re-hash the resulting fixed-width long with the seed —
    num_hashes× cheaper than hashing the string per seed.

    ``shingle``: "char" (k-char shingles, finest granularity) or "token"
    (k-word shingles — ~5× fewer positions to hash, the right default for
    long documents).

    Output: (<id_col>, sig array<long>[num_hashes]).
    """
    if shingle == "token":
        sh = token_ngrams(F.col(text_col), min(shingle_k, 3))
    else:
        sh = char_shingles(F.col(text_col), shingle_k)
    tmp = "__shingle_hashes"
    out = df.select(
        F.col(id_col), F.transform(sh, lambda s: F.xxhash64(s)).alias(tmp)
    )

    def _seeded(seed: int):
        # NOTE: must be a ONE-parameter lambda — a second parameter would be
        # interpreted by F.transform as the array index, silently shadowing
        # the seed and collapsing all hash functions into one
        lit_seed = F.lit(seed)
        return lambda h: F.xxhash64(h, lit_seed)

    mins = F.array(
        *[
            F.array_min(F.transform(F.col(tmp), _seeded(i)))
            for i in range(num_hashes)
        ]
    )
    return out.select(F.col(id_col), mins.alias("sig"))


def _band_buckets(bands: int, num_hashes: int) -> Column:
    """array<struct<band,bucket>>: one xxhash64 bucket per signature band."""
    rows_per_band = check_banding(num_hashes, bands)
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            # try_: bands*rows_per_band may exceed the
                            # sketch length (ANSI element_at throws)
                            F.try_element_at(F.col("sig"), F.lit(b * rows_per_band + j + 1)).cast("string")
                            for j in range(rows_per_band)
                        ],
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    bands: int = 16,
    num_hashes: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded LSH: split each signature into ``bands`` bands, hash each band
    to a bucket, group doc ids per (band, bucket), emit pairs locally inside
    each bucket's list. Shuffle key = (band, bucket-hash) — pairs are
    generated only inside buckets (LSH guarantee), never O(n²), and the
    pair generation itself is join-free (one groupBy + one distinct).

    ``max_bucket_size`` skips degenerate buckets (e.g. thousands of
    byte-identical docs — exact dedup's job, not LSH's) — the skew guard
    that keeps a hot bucket from blowing up an aggregation buffer at scale.

    Output: distinct (id_a, id_b) with id_a < id_b.
    """
    buckets = sigs.select(F.col(id_col), F.explode(_band_buckets(bands, num_hashes)).alias("be")).select(
        F.col("be.band").alias("band"), F.col("be.bucket").alias("bucket"), F.col(id_col)
    )
    grouped = buckets.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_list(F.struct(F.col(id_col).alias("id")))).alias("docs")
    )
    if max_bucket_size:
        grouped = grouped.where(F.size("docs") <= max_bucket_size)
    return (
        grouped.where(F.size("docs") >= 2)
        .select(F.explode(_bucket_pairs(F.col("docs"))).alias("p"))
        .select(F.col("p.a.id").alias("id_a"), F.col("p.b.id").alias("id_b"))
        .distinct()
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    shingle: str = "token",
    engine: str = "arrow",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: banded candidate generation, then
    verification by estimated Jaccard (matching signature fraction).
    ``engine="arrow"`` (default) uses the vectorized pandas-UDF sketch;
    ``engine="jvm"`` keeps everything in Column expressions (slower — HOFs
    are interpreted — but zero Python on the executors).

    Join-free single-branch plan: each doc's full signature rides along
    into the (band, bucket) groupBy, so candidate pairs are verified
    LOCALLY inside the bucket row (zip_with over the two sigs) and the
    final distinct dedups pairs that collide in multiple bands. Two
    shuffles total, no sketch-table re-join, nothing to checkpoint.
    Shuffle cost = bands × sig bytes per doc — at cluster scale you'd
    persist the sketch table once and feed it to both this and any other
    consumer.

    Output: (id_a, id_b, est_jaccard) with est_jaccard >= threshold.
    """
    if engine == "arrow":
        # band buckets come out of the sketch UDF itself (numpy polynomial
        # mix — same pair set as hashing the band slice, no per-doc
        # long→string chain; measured 1.76 → 1.42 s median at sf1)
        sigs = minhash_signatures_arrow(
            df, id_col, text_col, num_hashes, shingle=shingle, bands=bands
        )
        buckets = sigs.select(
            F.col(id_col),
            F.col("sig"),
            F.posexplode("bk").alias("band", "bucket"),
        ).select(
            "band",
            "bucket",
            F.struct(F.col(id_col).alias("id"), F.col("sig")).alias("doc"),
        )
    else:
        sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle=shingle)
        buckets = sigs.select(
            F.col(id_col), F.col("sig"), F.explode(_band_buckets(bands, num_hashes)).alias("be")
        ).select(
            F.col("be.band").alias("band"),
            F.col("be.bucket").alias("bucket"),
            F.struct(F.col(id_col).alias("id"), F.col("sig")).alias("doc"),
        )
    grouped = buckets.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_list("doc")).alias("docs")
    )
    if max_bucket_size:
        # mega-cluster skew guard (same contract as lsh_candidate_pairs):
        # a template duplicated across k docs collides in EVERY band, and
        # the in-bucket pair generation is O(k^2) structs in ONE task --
        # the wall-time blowup is quadratic in the cluster size (r14 skew
        # probe measurement, SCALE.md). Skipping degenerate buckets is a
        # DOCUMENTED recall cut: a cluster that saturates a bucket is
        # exact-dedup's job (exact_dedup / dp_minhash_md5 first), not
        # LSH's.
        grouped = grouped.where(F.size("docs") <= max_bucket_size)
    pairs = grouped.where(F.size("docs") >= 2).select(
        F.explode(_bucket_pairs(F.col("docs"))).alias("p")
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("p.a.sig"), F.col("p.b.sig"), lambda x, y: x == y),
            lambda v: v,
        )
    ) / F.lit(num_hashes)
    return (
        pairs.select(
            F.col("p.a.id").alias("id_a"),
            F.col("p.b.id").alias("id_b"),
            est.cast("double").alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
        .distinct()
    )


def token_ngrams_arrow(c_name: str, n: int = 3):
    """Distinct word n-grams via a vectorized pandas UDF (same gram strings
    as token_ngrams, ~5× faster than the interpreted HOF chain)."""
    import pandas as pd

    def _grams(series):
        out = []
        for text in series:
            # ascii_tokens: gram strings must be IDENTICAL to the JVM
            # token_ngrams path and the DuckDB oracle's explicit ASCII
            # split — Python str.split() breaks on Unicode whitespace
            # (\xa0 in crawled text), silently changing exact-Jaccard
            # results per engine (r15 eighth-pass finding)
            toks = ascii_tokens(text)
            if len(toks) < n:
                out.append([" ".join(toks)] if toks else [""])
            else:
                out.append(
                    list({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})
                )
        return pd.Series(out)

    _grams.__annotations__ = {"series": pd.Series, "return": pd.Series}
    return F.pandas_udf(_grams, "array<string>")(F.col(c_name))


def token_ngram_hashes_arrow(c_name: str, n: int = 3):
    """Distinct word n-grams PRE-HASHED to int64 inside the pandas UDF.
    Emitting fixed-width longs instead of gram strings shrinks the Arrow
    transfer and removes the JVM-side string re-hash.

    Gram identity is the n-token sequence, so instead of building and
    hashing every joined gram STRING (~n× the token bytes, one Python
    ``" ".join`` + set insert per gram), the TOKENS are hashed once per
    batch (``pd.util.hash_array`` — SipHash, fixed key, stable across
    processes) and each window of n token hashes is folded with a seeded
    64-bit polynomial (FNV-64 constants), vectorized as one
    ``sliding_window_view @ powers`` over the whole batch's token array —
    the same idiom ``_token_window_hashes`` uses. Equal token sequences
    hash equal; distinct sequences (including cross-length short-doc
    grams — the seed term is length-dependent) collide with ~2^-64 per
    pair, the same negligible-for-dedup class as hashing the joined
    string (r14) or the xxhash64 that preceded it. Every consumer uses
    these hashes for EQUALITY only (posting-list grouping, shared-gram
    counts, decontamination semi-joins) — results never read the hash
    values, so the fold change is invisible up to that collision class.

    Every emitted value additionally passes through murmur3's fmix64
    finalizer (r16, from the r15 ADVICE): a bare linear combination of
    fixed-key token hashes with public FNV constants admits
    algebraically constructed cross-gram collisions on ADVERSARIAL
    corpora (k-sum over the linear relation) — materially easier than
    SipHash collisions on gram strings. fmix64 is a BIJECTION, so the
    equality structure (which values collide) is exactly unchanged on
    every input — results provably identical — while the output is no
    longer a linear function of the token hashes. Cost: five vector ops
    per batch.

    Measured (OPTIMIZATION_r15.md "Wave 6", interleaved A/B): sf1
    gram+explode best 1.618 → 0.833 s (0.52×), dp_ngram_jaccard best
    3.76 → 2.31 s (0.61×); sf0.1 a wash (short docs — the per-doc
    Python slicing overhead offsets the vectorized fold). Adopted on
    the sf1 evidence: gram volume grows with corpus size, the per-doc
    constant does not."""
    import numpy as np
    import pandas as pd

    _P = 0x100000001B3  # FNV-64 prime
    _SEED = 0xCBF29CE484222325  # FNV-64 offset basis
    _MASK = (1 << 64) - 1
    # powers[j] = P^(n-1-j) so window @ powers = Horner fold of the window
    powers = np.array(
        [pow(_P, j, 1 << 64) for j in range(n - 1, -1, -1)], dtype=np.uint64
    )
    seed_full = np.uint64((_SEED * pow(_P, n, 1 << 64)) & _MASK)
    _FM1, _FM2 = 0xFF51AFD7ED558CCD, 0xC4CEB9FE1A85EC53

    def _fmix64_arr(x):
        # murmur3 fmix64, vectorized; uint64 array ops wrap silently
        x ^= x >> np.uint64(33)
        x *= np.uint64(_FM1)
        x ^= x >> np.uint64(33)
        x *= np.uint64(_FM2)
        x ^= x >> np.uint64(33)
        return x

    def _fmix64_int(v: int) -> int:
        v ^= v >> 33
        v = (v * _FM1) & _MASK
        v ^= v >> 33
        v = (v * _FM2) & _MASK
        v ^= v >> 33
        return v

    # the empty doc's single "" gram: the (finalized) bare seed, shared
    # by every empty doc — same pairing semantics as hashing ""
    _empty_sig = _fmix64_int(_SEED)
    _empty_sig = _empty_sig - (1 << 64) if _empty_sig >> 63 else _empty_sig

    def _gram_hashes(series):
        texts = series.tolist()
        if not texts:
            return pd.Series([], dtype=object)
        tok_lists = [ascii_tokens(t) for t in texts]  # engine-aligned split
        flat: list = []
        for toks in tok_lists:
            flat.extend(toks)
        th = (
            pd.util.hash_array(np.asarray(flat, dtype=object)).view(np.uint64)
            if flat
            else np.empty(0, dtype=np.uint64)
        )
        # full-batch window fold; positions crossing a doc boundary are
        # never referenced (each doc slices only its own c-n+1 windows)
        win = (
            _fmix64_arr(
                np.lib.stride_tricks.sliding_window_view(th, n) @ powers
                + seed_full
            )
            if len(th) >= n
            else np.empty(0, dtype=np.uint64)
        )
        out: list = []
        pos = 0
        for toks in tok_lists:
            c = len(toks)
            if c == 0:
                out.append([_empty_sig])
            elif c < n:
                # whole-sequence gram (Python-int Horner — numpy scalar
                # uint64 overflow warns; arrays above wrap silently)
                acc = _SEED
                for h in th[pos : pos + c].tolist():
                    acc = (acc * _P + h) & _MASK
                acc = _fmix64_int(acc)
                out.append([acc - (1 << 64) if acc >> 63 else acc])
            else:
                out.append(
                    np.unique(win[pos : pos + c - n + 1]).view(np.int64).tolist()
                )
            pos += c
        return pd.Series(out)

    _gram_hashes.__annotations__ = {"series": pd.Series, "return": pd.Series}
    # nondeterministic mark (the function IS deterministic): stops
    # InferFiltersFromGenerate's size()>0 guard from being pushed below
    # the projection, which re-ran the full-corpus gram UDF a second
    # time under the exchange (EXPLAIN round-7 audit)
    return F.pandas_udf(_gram_hashes, "array<long>").asNondeterministic()(
        F.col(c_name)
    )


def _bucket_pairs(docs_list: Column) -> Column:
    """All ordered pairs (a, b) with a.id < b.id from a SORTED array of doc
    structs — generated LOCALLY inside one aggregation row, so pair
    generation never shuffles. ``docs_list`` elements must be structs with
    ``id`` as the first field, pre-sorted (callers apply F.array_sort once
    on the collected list; keeping the sort out of this expression avoids
    re-evaluating it inside the nested lambda)."""
    ids = docs_list
    # two-parameter transform lambda receives (element, index)
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = None,
    engine: str = "arrow",
    guard: str = "broadcast",
) -> DataFrame:
    """EXACT token-n-gram Jaccard similarity pairs via the inverted-index
    plan: explode distinct grams, group docs per gram, emit pairs locally
    within each gram's posting list, count shared grams per pair,
    jaccard = shared / (|A| + |B| - shared).

    Grams are shuffled as xxhash64 longs, not strings (a 64-bit collision
    merging two distinct grams is ~2^-64 per pair — negligible for dedup).

    ``max_doc_freq`` drops grams shared by more than that many documents
    (stop-gram removal) — the mandatory skew guard at 100 TB scale, where
    a stop-gram's posting list would otherwise blow up one aggregation
    buffer. Two guard strategies (``guard=``), A/B-measured on an
    adversarial corpus — one gram planted in every doc at 100x scale
    (SCALE.md "stop-gram guard"):

    - ``"broadcast"`` (default): two-phase. A partial-aggregated
      ``groupBy(gh).count()`` prices gram document frequencies — the hot
      gram map-side-combines to ~one row per input partition, so the
      count exchange never concentrates it — and the few grams with
      df > max_doc_freq broadcast back as a blocklist that a left_anti
      join applies MAP-SIDE, so stop-gram rows are dropped before they
      are ever shuffled. Costs a second pass of the gram UDF (the two
      consumers of the exploded grams can't share one scan — the arrow
      UDF is asNondeterministic as a single-eval guard, and caching the
      exploded grams at 100 TB would cost more than re-hashing); buys a
      plan whose max task duration is FLAT in the hot gram's frequency.
      Downstream of the blocklist every surviving gram has df <=
      max_doc_freq, so the singleton pre-filter (next bullet) is
      skew-safe and still runs — best of both.
    - ``"window"``: single-phase. A count over Window.partitionBy(gh)
      shares the posting build's exchange (one UDF pass, one shuffle of
      the gram rows) and filters BEFORE collect_list — the df >= 2
      pre-filter drops the singleton majority of the gram universe
      before the array build (measured 3.16 -> 2.17 s at sf0.1), and a
      stop-gram stays rows-on-disk in the window's spillable sort buffer
      instead of one multi-GB aggregation array. But that sort
      serializes the hot gram in ONE task: max task duration grows
      linearly with the hot gram's frequency — the measured straggler at
      adversarial skew (SCALE.md).

    With ``max_doc_freq=None`` both strategies are the same single-pass
    plan (window df >= 2 pre-filter only): frequency pricing isn't paid
    for, and the window carries no adversarial risk the pair-explosion
    (O(df^2) per hot gram) wouldn't already have made fatal — unguarded
    callers assert benign gram frequencies by omitting the cap.

    Output: (id_a, id_b, jaccard) with jaccard >= threshold.
    """
    if guard not in ("broadcast", "window"):
        # an unrecognized value (e.g. "Broadcast") would otherwise apply
        # NEITHER strategy — the stop-gram cap silently dropped, results
        # including pairs the caller asked to exclude
        raise ValueError(
            f"guard must be 'broadcast' or 'window', got {guard!r}"
        )
    if engine == "arrow":
        # grams arrive pre-hashed to longs from the pandas UDF — nothing to
        # re-hash JVM-side, and the explode ships 8-byte ints, not strings
        gen = token_ngram_hashes_arrow(text_col, n)
        gh = F.col("g")
    else:
        gen = token_ngrams(F.col(text_col), n)
        gh = F.xxhash64("g")
    grams = (
        df.select(F.col(id_col), gen.alias("__grams"))
        .select(
            F.col(id_col),
            F.size("__grams").alias("sz"),
            F.explode("__grams").alias("g"),
        )
        .select(gh.alias("gh"), F.struct(F.col(id_col).alias("id"), F.col("sz")).alias("doc"))
    )
    from pyspark.sql.window import Window

    if max_doc_freq and guard == "broadcast":
        # phase 1: partial-agg count (hot grams combine map-side), few
        # stop-grams broadcast back, anti-join drops their rows BEFORE
        # any shuffle — max task duration flat in hot-gram frequency
        stop = (
            grams.groupBy("gh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_doc_freq)
            .select("gh")
        )
        grams = grams.join(F.broadcast(stop), "gh", "left_anti")
    win = Window.partitionBy("gh")
    df_ok = F.col("__df") >= 2  # singleton grams can't form a pair
    if max_doc_freq and guard == "window":
        df_ok = df_ok & (F.col("__df") <= max_doc_freq)
    # the >= 2 pre-filter runs even unguarded: it is semantically free
    # (a single-doc gram contributes no pair) and drops the singleton
    # majority of the gram universe BEFORE the array build — measured
    # 3.16 -> 2.17 s at sf0.1 and 249 -> 202 s at 100x (SCALE.md); in
    # broadcast-guard mode it runs AFTER the blocklist, where every
    # surviving gram's df <= max_doc_freq bounds the window sort
    grams = (
        grams.withColumn("__df", F.count(F.lit(1)).over(win))
        .where(df_ok)
        .drop("__df")
    )
    postings = grams.groupBy("gh").agg(F.array_sort(F.collect_list("doc")).alias("docs"))
    pairs = postings.where(F.size("docs") >= 2).select(
        F.explode(_bucket_pairs(F.col("docs"))).alias("p")
    )
    shared = pairs.groupBy(
        F.col("p.a.id").alias("id_a"),
        F.col("p.b.id").alias("id_b"),
        F.col("p.a.sz").alias("sz_a"),
        F.col("p.b.sz").alias("sz_b"),
    ).agg(F.count(F.lit(1)).alias("shared"))
    return (
        shared.withColumn(
            "jaccard",
            (F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared"))).cast(
                "double"
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over word tokens (``pd.util.hash_array`` token hashes —
    SipHash with a fixed key, deterministic across engines/processes).
    Bit-twiddling is the one place built-in columns can't express the
    semantics cleanly — Arrow-batched pandas UDF (the documented slow path,
    one narrow map, no shuffle); the batch's tokens are hashed in one C
    call and the per-bit vote is a segmented numpy reduction.

    Output: (<id_col>, simhash as SIGNED 64-bit decimal string, so it
    round-trips through cast('long') for Hamming verification).
    """
    import numpy as np
    import pandas as pd

    # the (tokens+1)x64 int32 bit matrix costs ~768 bytes/token; bound it
    # per chunk (~256k tokens → ~64 MB) so long-document Arrow batches
    # can't balloon executor-thread memory
    TOKEN_CHUNK = 1 << 18

    def _simhash_chunk(texts):
        flat: list = []
        starts = np.empty(len(texts), dtype=np.int64)
        counts = np.empty(len(texts), dtype=np.int64)
        for i, toks in enumerate(texts):
            starts[i] = len(flat)
            counts[i] = len(toks)
            flat.extend(toks)
        shifts = np.arange(64, dtype=np.uint64)
        if flat:
            hs = pd.util.hash_array(np.asarray(flat, dtype=object)).astype(np.uint64)
        else:
            hs = np.zeros(0, dtype=np.uint64)
        # sentinel row keeps every reduceat index in range; its vote is
        # subtracted from the final segment below
        hs = np.append(hs, np.uint64(0))
        bits = (((hs[:, None] >> shifts) & np.uint64(1)).astype(np.int32) * 2) - 1
        acc = np.add.reduceat(bits, starts, axis=0)
        acc[-1] -= bits[-1]
        acc[counts == 0] = 0  # reduceat yields arr[start] for empty segments
        v = ((acc > 0).astype(np.uint64) << shifts).sum(axis=1, dtype=np.uint64)
        return v.view(np.int64)

    def _simhash_series(s):
        texts = s.tolist()
        if not texts:
            return pd.Series([], dtype=object)
        tokenized = [(text or "").lower().split() for text in texts]
        out: list = []
        chunk: list = []
        budget = 0
        for toks in tokenized:
            if chunk and budget + len(toks) > TOKEN_CHUNK:
                out.extend(_simhash_chunk(chunk))
                chunk, budget = [], 0
            chunk.append(toks)
            budget += len(toks)
        if chunk:
            out.extend(_simhash_chunk(chunk))
        return pd.Series([str(x) for x in out])

    _simhash_series.__annotations__ = {"s": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(_simhash_series, "string")
    return df.select(F.col(id_col), udf(F.col(text_col)).alias("simhash"))


def hamming_near_dups(sim: DataFrame, id_col: str, max_distance: int = 3) -> DataFrame:
    """SimHash near-dup candidates: block on equal-width bit chunks (by
    pigeonhole, c chunks guarantee a shared chunk for any pair with
    distance ≤ c-1), verify Hamming distance JVM-side via
    bit_count(xor). Chunk width adapts to the requested distance:
    4×16-bit for d ≤ 3, 8×8-bit for d ≤ 7 (more candidates per bucket —
    the standard recall/candidate tradeoff); d > 7 would need 4-bit
    buckets whose collision rate defeats the blocking, so it's
    rejected."""
    if max_distance > 7:
        raise ValueError(
            "hamming_near_dups blocking supports max_distance <= 7; "
            "larger radii need a different candidate structure"
        )
    n_chunks = 4 if max_distance <= 3 else 8
    width = 64 // n_chunks
    mask = (1 << width) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk"),
                F.shiftright(F.col("simhash").cast("long"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
            for i in range(n_chunks)
        ]
    )
    blocked = sim.select(
        F.col(id_col), F.col("simhash"), F.explode(chunks).alias("c")
    ).select(
        F.col(id_col),
        F.col("simhash"),
        F.col("c.chunk").alias("chunk"),
        F.col("c.val").alias("val"),
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    dist = F.bit_count(
        F.col("a.simhash").cast("long").bitwiseXOR(F.col("b.simhash").cast("long"))
    )
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            dist.alias("hamming"),
        )
        .where(F.col("hamming") <= max_distance)
        .distinct()
    )


def minhash_signatures_md5(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8, n: int = 3
) -> DataFrame:
    """Oracle-checkable MinHash: sig[j] = MIN over distinct word-n-grams g
    of md5(j || ':' || g) — engine-independent (md5 of UTF-8 text, string
    min), so DuckDB reproduces the exact signature. Slower than the
    xxhash/Arrow production sketch (interpreted HOF per hash row); its
    job is to pin the full minhash pipeline's SEMANTICS against an
    independent engine, not to win benchmarks. Output: (id, sig
    array<string>)."""
    from victorialogs_spark.functions.natural import let

    # closure factory, NOT `lambda g, j=j:` — pyspark reads the lambda's
    # full signature, and a second parameter (even a defaulted one)
    # selects the two-argument (element, index) HOF form, silently
    # rebinding j to the index Column
    def _hash_j(j: int):
        return lambda g: F.md5(F.encode(F.concat(F.lit(f"{j}:"), g), "UTF-8"))

    def _sig(grams: Column) -> Column:
        return F.array(
            *[
                F.array_min(F.transform(grams, _hash_j(j)))
                for j in range(num_hashes)
            ]
        )

    return df.select(
        F.col(id_col),
        let(token_ngrams(F.col(text_col), n), _sig).alias("sig"),
    )


def check_banding(num_hashes: int, bands: int) -> int:
    """Validate an LSH banding and return rows-per-band. bands must
    divide num_hashes: bands > num_hashes would hash EMPTY slices (every
    doc collides in those bands — one global bucket, the O(n²) blowup
    the skew guards exist to prevent), and a non-divisor silently drops
    the tail signature rows, lowering recall with no warning."""
    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must be a divisor of num_hashes={num_hashes}"
        )
    return num_hashes // bands


def md5_band_entries(num_hashes: int, bands: int) -> Column:
    """array<struct<band,bucket>> over a 'sig' array<string> column: one
    md5 bucket per signature band. The bucket string format is a shared
    oracle contract — batch (minhash_near_dups_md5), streaming
    (stream_minhash_neardup) and the DuckDB mirrors all derive from this
    single definition."""
    rows_per_band = check_banding(num_hashes, bands)
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.encode(
                        F.concat_ws(
                            "|",
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                        ),
                        "UTF-8",
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )


def minhash_near_dups_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with the md5 signature — the
    deterministic, DuckDB-mirrorable variant of minhash_near_dups (same
    banded plan: bucket groupBy, join-free local pair generation,
    signature-overlap verification). Output: (id_a, id_b, est_jaccard)."""
    sigs = minhash_signatures_md5(df, id_col, text_col, num_hashes, n)
    band_entries = md5_band_entries(num_hashes, bands)
    buckets = sigs.select(
        F.col(id_col), F.col("sig"), F.explode(band_entries).alias("be")
    ).select(
        F.col("be.band").alias("band"),
        F.col("be.bucket").alias("bucket"),
        F.struct(F.col(id_col).alias("id"), F.col("sig")).alias("doc"),
    )
    grouped = buckets.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_list("doc")).alias("docs")
    )
    pairs = grouped.where(F.size("docs") >= 2).select(
        F.explode(_bucket_pairs(F.col("docs"))).alias("p")
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("p.a.sig"), F.col("p.b.sig"), lambda x, y: x == y),
            lambda v: v,
        )
    ) / F.lit(num_hashes)
    return (
        pairs.select(
            F.col("p.a.id").alias("id_a"),
            F.col("p.b.id").alias("id_b"),
            est.cast("double").alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
        .distinct()
    )


def simhash_md5_bitstring(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Oracle-checkable SimHash variant: the per-bit-vote semantics of
    :func:`simhash` with the token hash switched from SipHash to md5
    (reproducible in any SQL engine), tokenization on ASCII whitespace
    (matching the SQL mirror's '\\s+'; production simhash's Python
    .split() additionally breaks on Unicode whitespace), and
    the output emitted as an MSB-first 64-char '0'/'1' bitstring (no
    signed-overflow trap in either engine). Pins the semantics the
    production vectorized simhash shares — same role dp_minhash_md5
    plays for the MinHash pipeline. Docs with zero tokens are absent
    (no votes → no hash).
    """
    import hashlib

    import pandas as pd

    import re as _re

    # ASCII \s only: Python str.split() breaks on Unicode whitespace
    # (\xa0,  , ...) that RE2/Java '\s+' does NOT — the same
    # cross-engine trap py_normalize_text documents. The oracle splits
    # with '\s+', so this side must match it exactly.
    _ws = _re.compile(r"[ \t\n\r\f\v]+")

    def _bits(s):
        out = []
        for text in s.tolist():
            toks = [t for t in _ws.split((text or "").lower()) if t]
            if not toks:
                out.append(None)
                continue
            votes = [0] * 64
            for t in toks:
                h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
                for b in range(64):
                    votes[b] += 1 if (h >> (63 - b)) & 1 else -1
            out.append("".join("1" if v > 0 else "0" for v in votes))
        return pd.Series(out, dtype="object")

    _bits.__annotations__ = {"s": pd.Series, "return": pd.Series}
    # nondeterministic mark: keeps the isNotNull filter above the
    # projection instead of duplicating the md5 UDF under it
    udf = F.pandas_udf(_bits, "string").asNondeterministic()
    return (
        df.select(F.col(id_col), udf(F.col(text_col)).alias("simhash_bits"))
        .where(F.col("simhash_bits").isNotNull())
    )


def _require_non_null_ids(df: DataFrame, id_col: str, op: str) -> DataFrame:
    """Guard against NULL ids (which would silently collapse NULL-id
    docs into one group and silently vanish from id semi-joins). Spark's
    schema ``nullable`` flag is advisory (createDataFrame/Arrow and
    user-supplied read schemas don't validate it), so it can never
    stand in for a data check. Returns the frame to build on:

    - file-backed frames probe EAGERLY — IsNull pushdown + null-count
      row-group stats make it a metadata-cheap job, and the caller gets
      a clean ValueError at build time;
    - derived plans fold the check INTO the id column (raise_error on a
      NULL id), so it rides the first real action instead of re-running
      the whole upstream plan as a standalone job at plan-build time —
      an eager probe there made the library silently eager, and a
      pipeline calling two span ops probed twice (round-6 advice).
      Same loud failure, zero extra jobs, surfaced at action time."""
    msg = (
        f"{op}: {id_col} contains NULLs; the per-document grouping "
        "and id joins require non-NULL ids — filter or assign ids "
        "(e.g. monotonically_increasing_id) first"
    )
    try:
        file_backed = bool(df.inputFiles())
    except Exception:
        file_backed = False
    if file_backed:
        if df.where(F.col(id_col).isNull()).limit(1).count():
            raise ValueError(msg)
        return df
    dtype = df.schema[id_col].dataType
    return df.withColumn(
        id_col,
        F.when(F.col(id_col).isNotNull(), F.col(id_col)).otherwise(
            F.raise_error(F.lit(msg)).cast(dtype)
        ),
    )


def repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 20,
) -> DataFrame:
    """Cross-document repeated-span statistics — the span-granular
    approximation of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", which
    uses a suffix array; a distributed suffix array is unnecessary when
    span boundaries may be quantized to token windows). For every
    document, counts how many of its distinct ``span_tokens``-token
    sliding windows also appear in at least one OTHER document.

    Plan (100 TB story): one narrow Arrow map emits distinct per-doc
    span HASHES as 8-byte longs (never span strings); the exploded
    (id, span) frame is hash-shuffled by span ONCE and that single
    exchange feeds BOTH the document-frequency aggregate and the join
    probe (ReuseExchange — the explicit repartition makes the two
    subtrees identical, so the corpus is scanned and span-hashed once,
    not twice; measured 1.21 -> 0.82 s at sf0.1); one per-doc aggregate
    finishes. The join is preferred over a count-window (which would
    materialize each span's full partition in one task — a boilerplate
    span shared by millions of docs is exactly the skewed key AQE's
    skew-join splits but WindowExec cannot).

    Docs shorter than ``span_tokens`` contribute their whole token
    sequence as a single span (same rule as token_ngram_hashes_arrow), so
    short exact duplicates are still counted; a NULL/empty doc
    contributes one sentinel span shared by all empty docs. Output:
    (<id_col>, n_spans, shared_spans, dup_span_fraction), one row per
    input row.

    Ids must be non-NULL: a NULL id would silently collapse all NULL-id
    docs into one group here, and NULL never equals NULL in
    :func:`span_dedup`'s semi-join, silently dropping those docs — fail
    loudly instead (same contract as knn_label_purity). On parquet-
    backed frames IsNull pushdown + null-count row-group stats keep the
    probe cheap; on derived plans it does cost one upstream pass — the
    price of the silent-drop alternative being a correctness trap
    (the schema's nullable flag is advisory in Spark, so it cannot
    stand in for the probe).
    """
    df = _require_non_null_ids(df, id_col, "repeated_spans")
    grams = token_window_hashes_arrow(text_col, span_tokens)
    per_doc = df.select(F.col(id_col), F.explode(grams).alias("__g")).repartition(
        "__g"
    )
    # count(id_col), NOT count(1): ids are non-NULL by contract (probed
    # above) so the result is identical, but count(1) would let column
    # pruning drop id_col below this branch's exchange, making the two
    # exchange subtrees differ and defeating ReuseExchange — with
    # count(id_col) both branches project (id, __g) and the corpus is
    # exploded + span-hashed ONCE
    span_df = per_doc.groupBy("__g").agg(F.count(F.col(id_col)).alias("__docs"))
    return (
        per_doc.join(span_df, "__g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("__docs") >= 2, 1).otherwise(0)).alias(
                "shared_spans"
            ),
        )
        .withColumn(
            "dup_span_fraction",
            F.col("shared_spans").cast("double") / F.col("n_spans"),
        )
    )


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 20,
    max_dup_fraction: float = 0.5,
) -> DataFrame:
    """Drop documents whose duplicated-span fraction exceeds
    ``max_dup_fraction`` — removes near-copies AND heavily boilerplate
    docs that fingerprint dedup misses (they differ somewhere, so their
    md5s differ, yet most of their content is copied). Keeps the
    original columns; join is on the id (semi-join, spill-safe)."""
    keep = repeated_spans(df, id_col, text_col, span_tokens).where(
        F.col("dup_span_fraction") <= max_dup_fraction
    )
    return df.join(keep.select(id_col), id_col, "left_semi")


def _token_window_hashes(c_name: str, n: int, positional: bool):
    """Shared builder for the window-hash UDFs: the batch's tokens are
    hashed in one C call (``pd.util.hash_array``), then every window hash
    is a degree-``n`` polynomial of its token hashes (odd base, uint64
    wraparound) evaluated for ALL windows at once as one
    ``sliding_window_view @ powers`` matmul. Equal windows => equal
    hashes exactly; unequal windows collide at ~2^-64 -- the same
    contract as hashing the joined span string, at O(tokens*n) C
    multiply-adds instead of O(tokens*n) Python string bytes.

    Tokenization is :func:`ascii_tokens` (exactly Java \\s), so window
    INDEXES align with engine-side ``\\s+`` splits. Docs shorter than
    ``n`` hash their whole token sequence (the polynomial is
    length-sensitive, so a 3-token doc never collides with a 3-token
    prefix of a longer doc's window -- different power suffixes); an
    empty/NULL doc yields the single sentinel hash 0.

    ``positional=False`` -> distinct hashes per doc (set semantics);
    ``positional=True`` -> every window hash in document order, index i =
    window starting at token i, duplicates kept (posexplode recovers
    (start_pos, span) pairs).
    """
    import numpy as np
    import pandas as pd

    B = np.uint64(0x9E3779B97F4A7C15 | 1)  # odd -> invertible mod 2^64
    powers = np.empty(n, dtype=np.uint64)
    powers[n - 1] = np.uint64(1)
    # wraparound is the point -- suppress numpy's scalar-overflow warning
    with np.errstate(over="ignore"):
        for j in range(n - 2, -1, -1):
            powers[j] = powers[j + 1] * B

    def _win_hashes(series):
        texts = series.tolist()
        if not texts:
            return pd.Series([], dtype=object)
        flat: list = []
        bounds = np.empty(len(texts) + 1, dtype=np.int64)
        bounds[0] = 0
        for i, text in enumerate(texts):
            toks = ascii_tokens(text)
            flat.extend(toks)
            bounds[i + 1] = len(flat)
        hs = (
            pd.util.hash_array(np.asarray(flat, dtype=object)).astype(np.uint64)
            if flat
            else np.zeros(0, dtype=np.uint64)
        )
        # all window hashes of the whole batch in one matmul; windows
        # crossing doc boundaries exist in `win` but are never selected
        win = (
            np.lib.stride_tricks.sliding_window_view(hs, n) @ powers
            if len(hs) >= n
            else np.zeros(0, dtype=np.uint64)
        )
        out = []
        for i in range(len(texts)):
            s, e = int(bounds[i]), int(bounds[i + 1])
            ln = e - s
            if ln == 0:
                out.append([0])
            elif ln < n:
                out.append(
                    [int((hs[s:e] * powers[n - ln:]).sum(dtype=np.uint64)
                         .view(np.int64))]
                )
            else:
                w = win[s : e - n + 1]
                if not positional:
                    w = np.unique(w)
                out.append(w.view(np.int64).tolist())
        return pd.Series(out)

    _win_hashes.__annotations__ = {"series": pd.Series, "return": pd.Series}
    # deliberately NOT marked nondeterministic (unlike
    # token_ngram_hashes_arrow): the span operators consume this from
    # TWO plan branches sharing one repartition("__g") exchange, and
    # ReuseExchange compares canonicalized subtrees — nondeterministic
    # expressions never compare equal, so the mark would break the
    # reuse that deduplicates the full-corpus hash pass
    return F.pandas_udf(_win_hashes, "array<long>")(F.col(c_name))


def token_window_hashes_arrow(c_name: str, n: int):
    """Distinct per-doc hashes of every ``n``-token sliding window
    (set semantics; see :func:`_token_window_hashes`)."""
    return _token_window_hashes(c_name, n, positional=False)


def token_window_hashes_pos_arrow(c_name: str, n: int):
    """POSITIONAL window hashes: every window hash in document order,
    duplicates kept, so ``posexplode`` recovers (start_pos, span) pairs
    (see :func:`_token_window_hashes`)."""
    return _token_window_hashes(c_name, n, positional=True)


def cut_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 20,
) -> DataFrame:
    """Exact-substring dedup, CUT variant (Lee et al. 2022 remove the
    duplicated substring, not the document): rewrite every document with
    the tokens covered by cross-document shared spans removed. A span is
    shared when it occurs in >= 2 distinct documents; a token is cut when
    any shared span covers it. Whitespace is normalized to single spaces
    in the output (token positions, not byte offsets, are the unit).

    Plan: one positional Arrow map (same uint64 polynomial matmul as
    repeated_spans) → explode shuffled by span hash ONCE, the single
    exchange feeding BOTH the distinct-doc-count aggregate (partitioning
    by __g already clusters (__g, id), so count_distinct adds no
    exchange) and the join probe (ReuseExchange, same recipe as
    repeated_spans — the corpus is span-hashed once, not twice) → per-doc
    sorted start list (bounded by doc length) → pure-Column rebuild:
    tokens filtered by an indexed exists over the start list, JVM-side,
    no second Python pass.

    Output: all original columns with <text_col> replaced by the cut
    text, plus n_cut_tokens.

    Like :func:`repeated_spans`, ids must be non-NULL (NULL would merge
    all NULL-id docs' span sets and break the join-back) — checked via
    :func:`_require_non_null_ids` (eager probe).
    """
    df = _require_non_null_ids(df, id_col, "cut_repeated_spans")
    # the explicit isNotNull is semantically free (ids are non-NULL by
    # the probe above) but makes BOTH branches' subtrees carry the same
    # filter — the join side otherwise gains an inferred isnotnull(id)
    # the aggregate side lacks, defeating ReuseExchange
    spans = (
        df.where(F.col(id_col).isNotNull())
        .select(
            F.col(id_col),
            F.posexplode(token_window_hashes_pos_arrow(text_col, span_tokens))
            .alias("__pos", "__g"),
        )
        .repartition("__g")
    )
    # max(__pos) >= 0 is a tautology (positions are non-negative) whose
    # only job is to keep __pos referenced in this branch: without it
    # column pruning drops __pos below the exchange, the two exchange
    # subtrees stop being identical, and ReuseExchange cannot dedup the
    # full-corpus positional hash pass (repeated_spans' count(id_col)
    # trick, one step further)
    shared = (
        spans.groupBy("__g")
        .agg(
            F.count_distinct(F.col(id_col)).alias("__docs"),
            F.max("__pos").alias("__mp"),
        )
        .where((F.col("__docs") >= 2) & (F.col("__mp") >= 0))
        .select("__g")
    )
    starts = (
        spans.join(shared, "__g")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("__pos")).alias("__starts"))
    )
    k = span_tokens
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda t: t != "",
    )
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
            lambda s: (s <= i) & (i <= s + F.lit(k - 1)),
        ),
    )
    out_cols = [
        F.array_join(kept, " ").alias(text_col)
        if c == text_col
        else F.col(c)
        for c in df.columns
    ]
    return (
        df.join(starts, id_col, "left")
        .select(*out_cols, (F.size(toks) - F.size(kept)).alias("n_cut_tokens"))
    )
