"""Pairwise string-similarity kernels: Arrow-batched pandas UDFs.

Replicates the reference's vectorization + distance semantics
(char n-gram tokenizer automation_final2.py:373-384, TfidfVectorizer fit
automation_final2.py:387-395, cosine 1-NN probe automation_final2.py:396-397)
without any global fitted model: the IDF table is computed with a DataFrame
aggregation over the registry and broadcast; the cosine is evaluated per
candidate pair inside a pandas UDF. Per BASELINE.json north_star the pair
score additionally carries Jaro-Winkler and token-set-ratio diagnostics.

Reference quirks (verified against its source; see tests/test_scoring.py):

* The tokenizer strips ``[,-./]|\\sBD`` before n-gramming — a no-op on
  already-compressed names (no punctuation/spaces survive preprocess_text),
  replicated anyway.
* The "weighted special tokens" map {'creditunion','federalcreditunion',
  'bank'}→1 (automation_final2.py:373,391-395) is dead code twice over: the
  weights equal the default 1, and 11+-char tokens can never appear among
  1/2/3-grams. Not replicated.
* sklearn defaults the reference relies on: smooth_idf=True, sublinear_tf
  =False, norm=None ⇒ idf(t) = ln((1+n)/(1+df(t))) + 1, tf = raw count,
  cosine on the unnormalized tf·idf vectors. Out-of-vocabulary query n-grams
  are dropped (sklearn ``transform`` ignores unseen terms).
"""

from __future__ import annotations

import math
import re
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

NGRAM_SIZES = (1, 2, 3)
_STRIP_RE = re.compile(r"[,-./]|\sBD")


def char_ngrams(s: str, sizes: tuple[int, ...] = NGRAM_SIZES) -> list[str]:
    """Character n-grams after the reference's strip step (automation_final2.py:374)."""
    s = _STRIP_RE.sub("", s or "")
    out: list[str] = []
    for n in sizes:
        out.extend(s[i : i + n] for i in range(len(s) - n + 1))
    return out


_NGRAMS_SCHEMA = T.ArrayType(T.StringType())


@F.pandas_udf(_NGRAMS_SCHEMA)
def ngrams_udf(names: pd.Series) -> pd.Series:
    """array<string> of char 1/2/3-grams per name (Arrow-batched)."""
    return names.map(lambda s: char_ngrams(s if isinstance(s, str) else ""))


def char_ngrams_col(name_col) -> Column:
    """``char_ngrams`` as a pure Catalyst expression — identical output
    (same strip, same 1/2/3-gram inventory, same order), zero Python.

    One overlapping-window regexp_extract_all lookahead per n (codegen'd;
    the round-2 measurement: HOF/lambda chains run interpreted, a zero-width
    lookahead extraction does not). Used on the IDF hot path so building a
    registry IDF costs no Python-worker round trip; ngrams_udf stays for
    consumers that want the kernel-identical Python path.

    Java-vs-Python regex flags make the parity real on RAW text too, not
    just normalized alnum strings: (?U) gives Java's \\s the Unicode
    semantics Python's has (NBSP etc.), (?s) lets '.' cross newlines like
    Python slicing does — without them a 'foo\\nbar' value would lose every
    gram spanning the newline only on the Catalyst side, silently skewing
    IDF weights against the Python-built vectors."""
    stripped = F.regexp_replace(
        F.coalesce(name_col, F.lit("")), r"(?U)[,-./]|\sBD", ""
    )
    per_n = [
        F.regexp_extract_all(stripped, F.lit(f"(?s)(?=({'.' * n}))"), 1)
        for n in NGRAM_SIZES
    ]
    return F.concat(*per_n)


def _smooth_idf(df_counts: dict[str, int], n_docs: int) -> dict[str, float]:
    """sklearn's smooth IDF, ln((1+n)/(1+df)) + 1 — the one formula every
    IDF table here (distributed or local) goes through."""
    return {
        g: math.log((1.0 + n_docs) / (1.0 + df)) + 1.0
        for g, df in df_counts.items()
    }


def build_idf_by_tag(
    tagged_names: DataFrame, tag_col: str = "tag", name_col: str = "norm_name"
) -> dict[str, dict[str, float]]:
    """Per-registry smooth-IDF tables in ONE aggregation pass.

    The reference fits one TfidfVectorizer per registry TABLE — duplicates
    included (create_KNN(dnb['NAME']) etc., automation_final2.py:400-407) —
    so df(t) counts rows (documents) containing t at least once, per tag,
    over the non-distinct name column: sklearn's document frequency.
    Executed as explode(array_distinct(...)) → groupBy (tag, gram) count:
    one narrow shuffle whose key space is bounded by the char-trigram
    vocabulary (≲ 40^3 entries per tag), so the resulting map broadcasts at
    any data scale. A per-row marker token rides the same explode, so each
    tag's n_docs comes out of the same aggregation instead of a second scan.
    Output: {tag: {gram: idf}}."""
    marker = "\x00DOC\x00"  # \x00 cannot appear in an n-gram of a real name
    grams = F.coalesce(
        F.array_distinct(char_ngrams_col(F.col(name_col))),
        F.array().cast("array<string>"),
    )
    rows = (
        tagged_names.select(
            F.col(tag_col).alias("_tag"),
            F.explode(F.concat(F.array(F.lit(marker)), grams)).alias("ngram"),
        )
        .groupBy("_tag", "ngram")
        .agg(F.count("*").alias("df"))
        .collect()
    )
    counts: dict[str, dict[str, int]] = {}
    for r in rows:
        counts.setdefault(r["_tag"], {})[r["ngram"]] = r["df"]
    return {
        tag: _smooth_idf(cmap, cmap.pop(marker, 0)) for tag, cmap in counts.items()
    }


def build_idf(registry_names: DataFrame, name_col: str = "norm_name") -> dict[str, float]:
    """Smooth-IDF table over one registry's name column: the one-tag case
    of build_idf_by_tag (a constant empty tag)."""
    tagged = registry_names.select(F.lit("").alias("tag"), name_col)
    return build_idf_by_tag(tagged, "tag", name_col).get("", {})


def fit_idf_local(docs: list[str]) -> dict[str, float]:
    """Smooth IDF over a small in-memory document list — the per-group re-fit
    of the reference's city tie-break (TfidfVectorizer().fit(matc.CITY),
    automation_final2.py:437-441): same formula as build_idf, computed
    without a Spark job. df counts rows, duplicates included, exactly like a
    fit on the group's city column."""
    df_counts: dict[str, int] = {}
    for d in docs:
        for g in set(char_ngrams(d or "")):
            df_counts[g] = df_counts.get(g, 0) + 1
    return _smooth_idf(df_counts, len(docs))


def cosine_dist_local(a: str, b: str, idf: dict[str, float]) -> float:
    """Cosine distance under a given IDF table, pure Python — for per-group
    re-fit batches (a handful of short city strings), where building numpy
    vectors would cost more than the dot product saves. Same semantics as
    the batched kernel: tf·idf accumulation, OOV grams dropped, empty
    vectors at distance 1."""

    def vec(s: str) -> dict[str, float]:
        acc: dict[str, float] = {}
        for g in char_ngrams(s or ""):
            w = idf.get(g)
            if w is not None:
                acc[g] = acc.get(g, 0.0) + w
        return acc

    va, vb = vec(a), vec(b)
    if not va or not vb:
        return 1.0
    dot = sum(w * vb[g] for g, w in va.items() if g in vb)
    na = math.sqrt(sum(w * w for w in va.values()))
    nb = math.sqrt(sum(w * w for w in vb.values()))
    if dot == 0.0 or na == 0.0 or nb == 0.0:
        return 1.0
    return 1.0 - dot / (na * nb)


# Vectorized gram matching (round 7): every 1/2/3-gram is mapped to one
# int64 code — a length-prefixed base-0x110000 positional encoding of its
# code points (injective for ALL unicode strings up to 3 chars; max value
# ~2.8e18 < 2^63) — and matched against the registry vocabulary with one
# searchsorted instead of ~n dict lookups + per-gram hash calls per name. The
# per-gram Python loop was the round-6 profile's single hottest path for
# prose-length strings (~1 ms/vector — prose vectors are not memoized, so
# the near-dup flagship rebuilt one per candidate pair; guide §4.2: hand
# whole batches to vectorized native code).
_CODE_BASE = np.int64(0x110000)


def _gram_code(g: str) -> int:
    c = 1
    for ch in g:
        c = c * 0x110000 + ord(ch)
    return c


# idf_key -> (sorted gram codes, idf weight per entry); built lazily from
# _IDF_REGISTRY so tests that poke dicts straight into the registry
# (test_blocking.py) keep working
_VOCAB_TABLES: dict[str, tuple] = {}


def _vocab_table(idf_key: str):
    tab = _VOCAB_TABLES.get(idf_key)
    if tab is None:
        idf = _IDF_REGISTRY[idf_key]
        vc = np.fromiter(
            (_gram_code(g) for g in idf), dtype=np.int64, count=len(idf)
        )
        vw = np.fromiter(idf.values(), dtype=np.float64, count=len(idf))
        order = np.argsort(vc)
        tab = (vc[order], vw[order])
        _VOCAB_TABLES[idf_key] = tab
    return tab


@lru_cache(maxsize=262144)
def _tfidf_vector(name: str, idf_key: str):
    """(sorted gram-id array, weight array, L2 norm) for one compressed
    name; per-executor cache for name-length strings.

    numpy representation instead of dict-of-str: the cache then holds two
    flat buffers per name (GC-untracked, cache-friendly) and the pair dot
    product becomes one C-level sorted intersection — this is what lets the
    scoring stage scale past ~8 concurrent workers (Python small-object
    churn saturates memory bandwidth well before the CPUs are busy).

    Construction is fully vectorized: gram codes via a utf-32 view of the
    stripped string, one searchsorted against the vocabulary table, then —
    round 7 — the matched VOCABULARY POSITIONS are the gram identity: a
    plain np.sort of the positions + run-length bounds yields tf per gram,
    and weight = idf × tf in one multiply. The earlier gram-HASH identity
    needed a stable argsort plus add.reduceat segment sums per vector —
    ~55 µs of the measured 110 µs/vector on prose (BENCH.md round-7
    profile); positions need only an int sort (~20 µs less) and are
    collision-free by construction where crc-based hashes were only
    collision-free in practice. idf×tf vs the old per-occurrence summation
    can differ in the last ulp — cos distances are compared against
    thresholds with macroscopic margins everywhere downstream, and the
    full-output regression snapshot (round 7) checks every declared query."""
    vc, vw = _vocab_table(idf_key)
    s = _STRIP_RE.sub("", name or "")
    if not s or len(vc) == 0:
        return _EMPTY_VEC
    a = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    parts = []
    for n in NGRAM_SIZES:  # same gram inventory and order as char_ngrams
        if len(a) >= n:
            c = np.full(len(a) - n + 1, 1, dtype=np.int64)
            for j in range(n):
                c = c * _CODE_BASE + a[j : len(a) - n + 1 + j]
            parts.append(c)
    if not parts:
        return _EMPTY_VEC
    codes = np.concatenate(parts)
    pos = np.searchsorted(vc, codes)
    pos[pos == len(vc)] = 0
    valid = vc[pos] == codes
    if not valid.any():
        return _EMPTY_VEC
    matched = np.sort(pos[valid])
    bounds = np.nonzero(np.r_[True, matched[1:] != matched[:-1]])[0]
    ids = matched[bounds]
    tf = np.diff(np.r_[bounds, len(matched)])
    weights = vw[ids] * tf
    norm = float(np.sqrt(np.dot(weights, weights)))
    return ids, weights, norm


_EMPTY_VEC = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64), 0.0)

# prose-length strings produce ~700-gram vectors (≈11 KB each): caching them
# costs GBs per worker at 32-way parallelism, while company names (the hot,
# endlessly-repeated case) stay tiny — so only name-length vectors memoize
_VEC_CACHE_MAX_LEN = 256


def _vector_for(name: str, idf_key: str):
    if len(name) <= _VEC_CACHE_MAX_LEN:
        return _tfidf_vector(name, idf_key)
    return _tfidf_vector.__wrapped__(name, idf_key)


# Per-executor-process registry of IDF dicts, keyed by a driver-issued token,
# so the lru_cache key stays a small hashable instead of the dict itself.
# IMPORTANT: only mutate via _register_idf — a closure shipped by cloudpickle
# gets a *copy* of referenced global data, so writes from inside a UDF body
# would land in the copy, not here.
_IDF_REGISTRY: dict[str, dict[str, float]] = {}
_TOKEN_COUNTER = iter(range(1, 1 << 31))


_GC_TUNED = False


def _tune_worker_gc() -> None:
    """Disable cyclic GC in executor workers (once per process).

    The per-worker vector cache grows to O(distinct names) small dicts; the
    generational collector rescans that heap on every threshold crossing, and
    at 32 concurrent workers those scans saturate memory bandwidth — measured
    20x slowdown of the scoring stage at local[32] vs local[8] (reproduced
    outside Spark: 32 procs building 60k-vector caches: 43s with GC, 11s
    without). Refcounting still reclaims everything acyclic; the cache is
    intentionally immortal, so we freeze the current heap and switch the
    cyclic collector off.
    """
    global _GC_TUNED
    if _GC_TUNED:
        return
    import gc

    gc.collect()
    gc.freeze()
    gc.disable()
    _GC_TUNED = True


_IDF_REGISTRY_CAP = 16  # concurrent scorers per executor; eviction is rare


def _register_idf(idf_key: str, idf: dict[str, float]) -> None:
    """Runs on the executor in the real module namespace (by-reference pickle).

    Bounded: beyond _IDF_REGISTRY_CAP entries the oldest is evicted and the
    vector cache cleared (its entries reference the evicted vocabulary) — a
    long-lived executor serving many registries must not leak one IDF dict
    per scorer ever built."""
    _tune_worker_gc()
    if idf_key in _IDF_REGISTRY:
        return
    if len(_IDF_REGISTRY) >= _IDF_REGISTRY_CAP:
        oldest = next(iter(_IDF_REGISTRY))
        del _IDF_REGISTRY[oldest]
        _VOCAB_TABLES.pop(oldest, None)
        _tfidf_vector.cache_clear()
    _IDF_REGISTRY[idf_key] = idf


def _new_token(tag: str) -> str:
    return f"{tag}-{next(_TOKEN_COUNTER)}"


def _cosine_and_overlap(a: str, b: str, idf_key: str) -> tuple[float, float]:
    """(cosine distance, distinct-gram Jaccard) in one sorted-merge pass.

    searchsorted instead of intersect1d: both hash arrays are pre-sorted, so
    the binary-search merge avoids intersect1d's concatenate+argsort and its
    ~10 temporaries per call — allocation rate is what bounds 32-way scaling
    on a single socket."""
    ha, wa, na = _vector_for(a, idf_key)
    hb, wb, nb = _vector_for(b, idf_key)
    if na == 0.0 or nb == 0.0:
        return 1.0, 0.0
    if len(ha) > len(hb):
        ha, wa, na, hb, wb, nb = hb, wb, nb, ha, wa, na
    idx = np.searchsorted(hb, ha)
    idx[idx == len(hb)] = 0
    mask = hb[idx] == ha
    n_inter = int(mask.sum())
    if n_inter == 0:
        return 1.0, 0.0
    dot = float(np.dot(wa[mask], wb[idx[mask]]))
    union = len(ha) + len(hb) - n_inter
    return 1.0 - dot / (na * nb), n_inter / union


def _cosine_dist(a: str, b: str, idf_key: str) -> float:
    return _cosine_and_overlap(a, b, idf_key)[0]


_JW_CAP = 64  # O(len^2) scan; names are short, document-length inputs capped


def jaro_winkler(a: str, b: str, prefix_weight: float = 0.1) -> float:
    """Standard Jaro-Winkler similarity in [0, 1] (diagnostic column; inputs
    longer than _JW_CAP chars are prefix-capped — the cosine acceptor, not JW,
    decides matches)."""
    if a == b:
        return 1.0
    a, b = a[:_JW_CAP], b[:_JW_CAP]
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    match_a = [False] * la
    match_b = [False] * lb
    matches = 0
    for i, ca in enumerate(a):
        lo = max(0, i - window)
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not match_b[j] and b[j] == ca:
                match_a[i] = match_b[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    k = 0
    for i in range(la):
        if match_a[i]:
            while not match_b[k]:
                k += 1
            if a[i] != b[k]:
                transpositions += 1
            k += 1
    transpositions //= 2
    jaro = (
        matches / la + matches / lb + (matches - transpositions) / matches
    ) / 3.0
    prefix = 0
    for ca, cb in zip(a[:4], b[:4]):
        if ca == cb:
            prefix += 1
        else:
            break
    return jaro + prefix * prefix_weight * (1.0 - jaro)


PAIR_SCORE_SCHEMA = T.StructType(
    [
        T.StructField("cos_dist", T.DoubleType()),
        T.StructField("jw_sim", T.DoubleType()),
        T.StructField("token_set", T.DoubleType()),
    ]
)


def make_scorer(
    spark: SparkSession,
    idfs: dict[str, dict[str, float]],
    compute_jw: bool = False,
):
    """The one pair-scoring UDF: ``scorer(left, right[, tag])`` → struct
    (cos_dist, jw_sim, token_set), each row scored under its tag's IDF.

    ``idfs`` maps a registry tag to its IDF table — the build_idf_by_tag
    output, or ``{tag: build_idf(...)}`` for a single registry (the tag
    argument may then be omitted) — so every row scores with its own
    registry's weights (the reference's one-vectorizer-per-registry
    semantics). The whole map ships to executors as ONE Spark broadcast;
    each Arrow batch is split by tag and every slice runs the grouped
    searchsorted/reduceat kernel (_score_batch). Vectors are memoized per
    unique string per executor, so a hot registry name is vectorized once,
    not once per candidate pair. Rows with an unknown tag score cos_dist 1.0
    (no vocabulary). ``compute_jw`` fills the jw_sim diagnostic (Jaro-
    Winkler on plausible pairs, an O(len²) Python loop); it stays 0.0 for
    the cosine-only consumers.

    Use the returned column ONLY via withColumn/select/filter, never in a
    join condition or an aggregate expression: the UDF is marked
    non-deterministic (round 7, guide §4.4) — the kernel is in fact
    deterministic, but every consumer filters on the score, and the
    optimizer's filter pushdown would otherwise evaluate the UDF TWICE (one
    ArrowEvalPython under the pushed filter, a second in the projection —
    plans/r07/er_neardup_scoring_before.txt (77)/(80)). The same flag means
    a frame derived from the score re-runs the kernel per consumer: persist
    or checkpoint it before it feeds more than one branch.
    """
    bc = spark.sparkContext.broadcast(idfs)
    tokens = {tag: _new_token("idf") for tag in idfs}

    @F.pandas_udf(PAIR_SCORE_SCHEMA)
    def score(left: pd.Series, right: pd.Series, tag: pd.Series) -> pd.DataFrame:
        lvals = left.fillna("").to_numpy()
        rvals = right.fillna("").to_numpy()
        tvals = tag.fillna("").to_numpy()
        n = len(lvals)
        cos, jw, tsr = np.ones(n), np.zeros(n), np.zeros(n)
        batch_tags = pd.unique(tvals)
        for tg in batch_tags:
            tok = tokens.get(tg)
            if tok is None:
                continue
            _register_idf(tok, bc.value[tg])
            m = slice(None) if len(batch_tags) == 1 else tvals == tg
            cos[m], jw[m], tsr[m] = _score_batch(
                lvals[m], rvals[m], tok, compute_jw
            )
        return pd.DataFrame({"cos_dist": cos, "jw_sim": jw, "token_set": tsr})

    score = score.asNondeterministic()

    def scorer(left: Column, right: Column, tag: Column | None = None) -> Column:
        if tag is None:
            if len(tokens) != 1:
                raise ValueError("a multi-registry scorer needs a tag column")
            tag = F.lit(next(iter(tokens)))
        return score(left, right, tag)

    return scorer


# JVM-side prefilter: cosine distance <= 0.2 needs heavy n-gram overlap,
# impossible when lengths diverge wildly. The loose 0.4 ratio — provably
# recall-safe for the acceptor (property-tested) — cuts the Python-kernel
# volume before a single Arrow batch is built.
LENGTH_RATIO_MIN = 0.4


def score_pairs(
    pairs: DataFrame,
    scorer,
    tag_col: str | None = None,
    partition_by_probe: bool = True,
) -> DataFrame:
    """The scoring step every name match runs on candidate_pairs output:
    length-ratio prefilter, optional probe repartition, then the make_scorer
    UDF on (m_norm, r_norm) — the probe and registry-name columns
    candidate_pairs emits. Returns ``pairs``' columns plus cos_dist, jw_sim
    and token_set for every surviving pair (callers apply the acceptor
    threshold).

    ``partition_by_probe=True`` repartitions by probe before the kernel:
    AQE coalesces shuffle output by BYTES (~64 MB targets), which collapses
    a CPU-bound scoring stage onto a handful of cores — measured 0.30
    scaling efficiency 8→32 without it; CPU-bound pandas-UDF stages must be
    sized by cores, not bytes. Hashing BY the probe lets the one exchange
    also serve the per-probe best-match aggregate downstream, and sorting
    within partitions makes consecutive kernel rows share the probe vector.
    Probe fan-out is bounded by the blocking caps, so it cannot skew.

    ``partition_by_probe=False`` (round 7) scores the block join's NATURAL
    output order instead — for prose-length texts the repartition is doubly
    wrong: it shuffles the full pair stream (two ~500-byte texts per row) to
    save a later shuffle of the ~1000× smaller accepted set, and it DESTROYS
    block locality — a text recurs as r-side ~|block| times, but hashed by
    probe those recurrences scatter over every partition, so the
    un-memoizable prose vector is rebuilt per pair (~90 µs each, the
    dominant near-dup cost in the round-7 profile). The join's own output
    keeps each block's pairs adjacent, where the kernel's in-batch memo
    catches both sides. Name-length consumers keep True: their vectors
    memoize globally."""
    lp, ln = F.length("m_norm"), F.length("r_norm")
    pairs = pairs.filter(F.least(lp, ln) >= LENGTH_RATIO_MIN * F.greatest(lp, ln))
    if partition_by_probe:
        pairs = pairs.repartition(
            pairs.sparkSession.sparkContext.defaultParallelism * 2, "m_norm"
        ).sortWithinPartitions("m_norm", *([tag_col] if tag_col else []))
    tag = F.col(tag_col) if tag_col else None
    return pairs.withColumn(
        "_s", scorer(F.col("m_norm"), F.col("r_norm"), tag)
    ).select(*pairs.columns, "_s.*")


# sentinel for empty vectors inside the batched kernel: one impossible gram
# id (real ids are vocabulary positions >= 0), weight 0 — keeps reduceat
# segments non-empty and strictly increasing
_SENTINEL_H = np.array([-1], dtype=np.int64)
_SENTINEL_W = np.array([0.0], dtype=np.float64)

# per-batch memo bound: prose vectors are ~11 KB; 16k entries caps the
# transient at ~180 MB per in-flight batch, freed when the batch returns
_BATCH_MEMO_MAX = 16384


def _score_batch(
    lvals: np.ndarray, rvals: np.ndarray, key: str, compute_jw: bool = True
):
    """Vectorized batch scoring: rows are grouped by probe name, each group
    scored with ONE searchsorted over the concatenated registry vectors and
    segment-reduced dots (np.add.reduceat) — per-pair numpy call overhead and
    allocation rate drop ~5x vs pair-at-a-time, which is what the 32-way
    memory-bandwidth ceiling responds to.

    The r-side vectors additionally memoize WITHIN the batch (round 7): on
    block-locality-ordered pair streams (see score_pairs
    partition_by_probe=False) one registry text recurs across many adjacent
    probe groups, and prose-length vectors are too large for the global
    cache — without the memo every recurrence pays the full ~90 µs
    construction (the round-7 profile's dominant near-dup cost). Bounded;
    name-length strings still hit the global lru first via _vector_for."""
    n = len(lvals)
    cos = np.ones(n)
    jw = np.zeros(n)
    tsr = np.zeros(n)
    memo: dict = {}
    order = np.argsort(lvals, kind="stable")
    i = 0
    while i < n:
        probe = lvals[order[i]]
        j = i
        while j < n and lvals[order[j]] == probe:
            j += 1
        idxs = order[i:j]
        i = j
        ha, wa, na = _vector_for(probe, key)
        if na == 0.0:
            continue  # cos stays 1.0 for the whole group
        hb_list, wb_list, nb_arr, lens = [], [], [], []
        for k in idxs:
            rv = rvals[k]
            vec = memo.get(rv)
            if vec is None:
                hb, wb, nb = _vector_for(rv, key)
                if nb == 0.0 or len(hb) == 0:
                    vec = (_SENTINEL_H, _SENTINEL_W, 0.0)
                else:
                    vec = (hb, wb, nb)
                if len(memo) >= _BATCH_MEMO_MAX:
                    memo.clear()
                memo[rv] = vec
            hb, wb, nb = vec
            hb_list.append(hb)
            wb_list.append(wb)
            nb_arr.append(nb)
            lens.append(len(hb))
        hb_cat = np.concatenate(hb_list)
        wb_cat = np.concatenate(wb_list)
        pos = np.searchsorted(ha, hb_cat)
        pos[pos == len(ha)] = 0
        match = ha[pos] == hb_cat
        contrib = wa[pos] * wb_cat * match
        lens_np = np.asarray(lens, dtype=np.int64)
        starts = np.zeros(len(idxs), dtype=np.int64)
        np.cumsum(lens_np[:-1], out=starts[1:])
        dots = np.add.reduceat(contrib, starts)
        inters = np.add.reduceat(match.astype(np.int64), starts)
        nb_np = np.asarray(nb_arr)
        valid = nb_np > 0.0
        g_cos = np.ones(len(idxs))
        g_cos[valid] = 1.0 - dots[valid] / (na * nb_np[valid])
        union = len(ha) + lens_np - inters
        g_jac = np.where((union > 0) & valid, inters / np.maximum(union, 1), 0.0)
        cos[idxs] = g_cos
        tsr[idxs] = g_jac
    # JW is a diagnostic on plausible pairs only — computing it for
    # clearly-rejected candidates (cos > 0.5) would multiply the kernel cost
    # for rows the 0.2 acceptor discards anyway; cosine-only consumers (city/
    # HQ tie-breaks, where most pairs in a matched group ARE close) skip the
    # O(len^2) Python loop entirely via compute_jw=False
    if compute_jw:
        for k in np.nonzero(cos <= 0.5)[0]:
            jw[k] = jaro_winkler(lvals[k], rvals[k])
    return cos, jw, tsr
