"""End-to-end record-linkage pipeline (SURVEY.md §3.1's Spark lifecycle).

extract spans → normalize (Catalyst) → blocking keys → salted candidate join
→ Arrow-batched pair scoring → threshold + best-match aggregate → group-fetch
GDUN decision → sentinel/manual statuses.

``match_mentions`` is the package's one mention matcher: ``match_documents``
feeds it the extracted name spans, ``plans/events.mna_transitions`` the two
sides of each M&A event.

Every stage is a DataFrame transformation; the only Python on the hot path is
the batched pair scorer. The plan shuffles exactly where SURVEY.md §4.2 says
it must — and nowhere else: ONE key-count agg (tagged union, map-side
combining), the salted pair join, the scoring repartition (whose
hashpartitioning(m_norm) the best-match aggregate then reuses), and the
decision agg. When the distinct-probe universe is small (measured, not assumed) the
best-match and decision maps are broadcast, so the mention stream — the
always-huge frame — is never shuffled at all; above the limit the same plan
degrades to shuffle joins.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from gduns_name_match_spark.functions.normalize import (
    normalize_city_col,
    normalize_name_col,
)
from gduns_name_match_spark.functions.similarity import (
    build_idf,
    make_scorer,
    score_pairs,
)
from gduns_name_match_spark.operators.blocking import (
    candidate_pairs,
    with_block_keys,
)
from gduns_name_match_spark.operators.resolve import (
    THRESHOLD,
    best_match_per_probe,
    fill_manual_defaults,
    resolve_gdun,
)

# Best-match maps at or under this many distinct probe names are broadcast
# into the group fetch (3 scalar columns ⇒ ≤~60 MB). Above it, the plan
# falls back to shuffle joins: at 100 TB the distinct-name universe is in
# the billions and MUST shuffle — the cutover is decided from a measured
# count, never assumed.
BROADCAST_DECISIONS_LIMIT = 1_000_000
# The final per-raw-name decision map carries three LIST_OF_DUNS_CAP'd
# arrays, so its broadcast is gated on an estimated BYTE size (a row-count
# gate measures the wrong quantity — 1M rows of 100-element lists is
# multi-GB): rows x scalar overhead + list elements x element estimate.
BROADCAST_DECISIONS_MAX_BYTES = 256 * 1024 * 1024
_ROW_BYTES_EST = 150     # scalar columns + per-row structure overhead
_LONG_ELEM_BYTES = 12    # array<long> element incl. offsets
_NAME_ELEM_BYTES = 48    # array<string> element (gl_ult_nam averages)


def extract_name_mentions(documents: DataFrame) -> DataFrame:
    """posexplode the interleaved span array, keep kind='name' spans.

    mention_id = '<doc_id>#<span_pos>' so any output row is traceable back to
    its exact position in the original span sequence (the per-row invariant of
    BASELINE.json input_hint).
    """
    return (
        documents.select(
            "doc_id", F.posexplode("spans").alias("span_pos", "span")
        )
        .filter(F.col("span.kind") == "name")
        .select(
            F.concat_ws("#", "doc_id", "span_pos").alias("mention_id"),
            "doc_id",
            "span_pos",
            F.col("span.text").alias("raw_name"),
            F.col("span.offset").alias("offset"),
        )
    )


def reconstruct_spans(documents: DataFrame) -> DataFrame:
    """Round-trip check for the span-sequence invariant: explode then
    reassemble ordered by position; compare to the original array."""
    reassembled = (
        documents.select("doc_id", F.posexplode("spans").alias("p", "span"))
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "span"))),
                lambda x: x["span"],
            ).alias("spans_rebuilt")
        )
    )
    return documents.join(reassembled, "doc_id").select(
        "doc_id", (F.col("spans") == F.col("spans_rebuilt")).alias("spans_equal")
    )


@dataclass
class MatchResult:
    mentions: DataFrame       # extracted + normalized probes
    pairs_scored: DataFrame   # every scored candidate pair (diagnostics)
    decisions: DataFrame      # one row per mention: gdun + match_status
    key_stats: DataFrame      # per-block-key registry population / drops
    _caches: tuple = ()       # persisted frames this result still reads from

    def release(self) -> None:
        """Unpersist every frame match_documents cached. Call when done with
        the result — long-lived sessions (incremental batches, benches)
        otherwise accumulate cached registry/pair frames per invocation."""
        for f in self._caches:
            f.unpersist()


def match_documents(
    spark: SparkSession,
    documents: DataFrame,
    registry: DataFrame,
    threshold: float = THRESHOLD,
    n_salt: int = 16,
    timings: dict | None = None,
) -> MatchResult:
    """Flagship job: assign a GDUN (or sentinel) to every name span —
    span extraction, then match_mentions (see there for ``registry`` and
    ``timings``)."""
    return match_mentions(
        spark, extract_name_mentions(documents), registry, threshold, n_salt,
        timings,
    )


def match_mentions(
    spark: SparkSession,
    mentions_raw: DataFrame,
    registry: DataFrame,
    threshold: float = THRESHOLD,
    n_salt: int = 16,
    timings: dict | None = None,
) -> MatchResult:
    """The one mention matcher: every ``raw_name`` row of ``mentions_raw``
    gets a GDUN (or sentinel); the decisions frame keeps all its other
    columns (mention_id/doc_id spans, event_id/side M&A sides, ...).

    ``registry`` is dnb_directory-shaped: (duns_num, company, city, st,
    gl_ult_dun, ...) with cur_rec_ind='Y' rows (filter applied here, mirroring
    the reference's source SQL automation_final2.py:62-139).

    ``timings``: optional dict that receives per-stage wall seconds keyed by
    the pipeline's ACTION boundaries (idf build, blocking key-stats,
    fused block-join+score job, decision-map build) — the scaling-evidence
    attribution BENCH.md reports (driver-side perf_counter around each
    materializing action; zero effect on the plan).
    """
    _t = [time.perf_counter()]

    def _mark(name: str) -> None:
        now = time.perf_counter()
        if timings is not None:
            timings[name] = round(now - _t[0], 3)
        _t[0] = now
    # Normalize AFTER deduplicating raw names, never per mention: the
    # normalize chain is ~20 regex/translate passes, and the mention stream
    # repeats the same surface strings constantly (1.2M mentions → ~100k
    # distinct raws in the bench corpus; worse at web scale). norm_map is
    # one row per distinct raw name — everything name-shaped downstream
    # derives from it, and the mention stream itself is never normalized.
    norm_map = (
        mentions_raw.select("raw_name")
        .distinct()
        .withColumn("m_norm", normalize_name_col(F.col("raw_name")))
        .persist()
    )
    # kept for API/checkpoint compat (lazy — only consumers pay for it).
    # LEFT join: a NULL raw_name (a kind='name' span with NULL text) never
    # equi-joins, and an inner join would silently drop that mention here
    # while the decisions frame still carries it — breaking the one-row-per-
    # extracted-mention traceability invariant.
    mentions = mentions_raw.join(norm_map, "raw_name", "left")

    reg = (
        registry.filter(F.col("cur_rec_ind") == "Y")
        if "cur_rec_ind" in registry.columns
        else registry
    )
    reg = reg.select(
        F.col("duns_num"),
        F.col("gl_ult_dun"),
        normalize_name_col(F.col("company")).alias("norm_name"),
        normalize_city_col(F.col("city")).alias("norm_city"),
        F.col("st"),
    )
    # cache: reg feeds IDF build, blocking, and the group-fetch join
    reg = reg.persist()

    idf = build_idf(reg, "norm_name")
    _mark("idf_build")
    scorer = make_scorer(spark, {"dnb": idf}, compute_jw=True)

    # Score DISTINCT normalized-name pairs, never mention pairs: N mentions of
    # the same string cost one vectorization + one score. The per-mention
    # decision is a cheap equi-join at the end. (At 10^12 docs the distinct
    # name universe is orders of magnitude smaller than the mention stream.)
    # Not persisted: candidate_pairs caches the keyed projection of this
    # frame, and nothing re-reads the bare probe list (the broadcast gate
    # below is decided from the best-match map's own measured count).
    probes = norm_map.select("m_norm").distinct()
    m_keyed = with_block_keys(probes, "m_norm")
    r_keyed = with_block_keys(
        reg.select(F.col("norm_name").alias("r_norm")).dropDuplicates(["r_norm"]),
        "r_norm",
    )
    blocking = candidate_pairs(
        m_keyed,
        r_keyed,
        probe_id="m_norm",
        registry_id="r_norm",
        n_salt=n_salt,
    )
    pairs, key_stats = blocking.pairs, blocking.stats
    # candidate_pairs collected the dropped-key census: normalize+keying of
    # both sides plus the tagged-union key-count agg ran inside it
    _mark("block_key_stats")

    # prefilter + probe repartition + Arrow kernel; the hashpartitioning
    # (m_norm) it leaves is reused by the best-match aggregate below.
    # Persisted: read by the pairs_scored diagnostics AND the decision path.
    scored = score_pairs(pairs, scorer).persist()
    # Materialize the scored cache THROUGH the best-match aggregate: one
    # pass over the pair stream populates both the scored cache (persist
    # intercepts every scanned partition) and the tiny per-probe best map.
    # Round 3 ran scored.count() here and let the decision job re-scan the
    # full cached pair stream — a second 8.4M-row columnar-decompress pass
    # that was the single FLAT stage of the 400k scaling breakdown (≈2s at
    # any core count, pure memory bandwidth). Then drop the keyed blocking
    # inputs — nothing downstream reads them.
    best = best_match_per_probe(
        scored, probe_id="m_norm", threshold=threshold
    ).select(
        "m_norm",
        F.col("r_norm").alias("best_name"),
        F.col("cos_dist").alias("best_dist"),
    ).persist()
    best_cache_handle = best  # pre-broadcast-hint handle for release()
    n_best = best.count()
    _mark("block_join_score")
    blocking.release(include_stats=False)
    # broadcast vs shuffle for the best-match map, decided by the count the
    # materializing action above ALREADY measured — the map being shipped is
    # `best` itself (probes with no accepted match never enter it), so its
    # own row count is the right gate and the former probes.count() driver
    # round trip (VERDICT r04 task 5) is gone.
    # best has <= n_probes tiny rows: broadcasting it turns the group fetch
    # (best x registry on best_name) into a map-side hash join — the registry
    # keeps its scan partitioning instead of shuffling by name
    if n_best <= BROADCAST_DECISIONS_LIMIT:
        best = F.broadcast(best)
    decided_norm = resolve_gdun(
        best, reg, city_cosine_udf=None, probe_id="m_norm",
        probe_city=None, probe_state=None,
    )
    # Manual fallback is folded into the final join: mentions LEFT JOIN the
    # per-RAW-name decisions, null-filled to the reference's Manual routing
    # (gdun=-1, automation_final2.py:658-675). This replaces round 2's
    # probes-anti-join + union (one full extra shuffle of the probe universe)
    # with zero extra stages. Decisions are first attached to norm_map
    # (small x small join on m_norm), so the mention stream is joined on the
    # RAW string — it is never normalized and, when the decision map is
    # small (measured), never shuffled either.
    per_raw = norm_map.join(decided_norm, "m_norm", "left").persist()
    # pre-observe/pre-hint handle: observe() wraps the plan in a
    # CollectMetrics node, so unpersist() on the wrapped frame would no
    # longer resolve to the cached plan — release() must see this frame
    per_raw_cache_handle = per_raw
    # measure the BYTES this map would ship, not its row count: the audit
    # arrays dominate (a row can carry 3x100 capped elements). The metrics
    # ride the cache-materializing count() as an Observation — ONE job both
    # populates the per_raw cache and measures the payload, where round 4
    # ran a standalone aggregate-collect (VERDICT r04 task 5: the stage's
    # second serial driver round trip)
    obs = Observation()
    per_raw = per_raw.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(
            F.coalesce(F.size("list_of_duns"), F.lit(0))
            + F.coalesce(F.size("list_of_gduns"), F.lit(0))
        ).alias("long_elems"),
        F.sum(F.coalesce(F.size("list_of_gdun_names"), F.lit(0))).alias(
            "name_elems"
        ),
    )
    per_raw.count()
    sizes = obs.get
    est_bytes = (
        sizes["rows"] * _ROW_BYTES_EST
        + (sizes["long_elems"] or 0) * _LONG_ELEM_BYTES
        + (sizes["name_elems"] or 0) * _NAME_ELEM_BYTES
    )
    _mark("decision_map")
    if est_bytes <= BROADCAST_DECISIONS_MAX_BYTES:
        per_raw = F.broadcast(per_raw)
    decisions = fill_manual_defaults(
        mentions_raw.join(per_raw, "raw_name", "left")
    )
    return MatchResult(
        mentions=mentions,
        pairs_scored=scored,
        decisions=decisions,
        key_stats=key_stats,
        _caches=(
            reg, scored, key_stats, norm_map, per_raw_cache_handle,
            best_cache_handle,
        ),
    )
