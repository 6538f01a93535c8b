"""Salted blocking-key candidate generation.

Replaces the reference's global TF-IDF kNN probe (automation_final2.py:396-397,
430-432) — which cannot exist at 10^12 rows — with equi-joinable block keys:
a name pair is a candidate iff it shares at least one key. Key recall against
the cosine<=0.2 acceptor is property-tested (tests/test_blocking.py).

Scale design:
* keys are pure Catalyst expressions — length-adaptive: prefix + Soundex +
  metaphone-lite for company-name-length strings, prefix-10 + char-gram
  band signatures for prose-length strings (see block_keys_col);
* per-key frequencies are counted on the registry side; keys whose registry
  population exceeds ``hot_key_threshold`` are salted — the registry rows
  replicate across ``n_salt`` shards while each probe row draws one
  deterministic shard, so one hot key ('firstnationalbank…') cannot pin a
  single reducer;
* keys beyond ``max_block`` registry rows are dropped WITH a logged counter
  (never silently) — at 100 TB a degenerate key would otherwise produce a
  quadratic pair explosion. Empty normalized names never get keys at all.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gduns_name_match_spark.functions.phonetic import metaphone_lite_col

_LOG = logging.getLogger(__name__)


@dataclass
class BlockingResult:
    """Explicit cache-lifecycle handle for ``candidate_pairs``.

    ``pairs``/``stats`` are plain DataFrames; ``release()`` unpersists the two
    keyed input frames (and, by default, the stats frame) once the caller has
    materialized the pairs output. An explicit handle instead of private state
    attached to a DataFrame: any select/filter/checkpoint of the stats frame
    returns a NEW DataFrame without such state, which made the old
    attribute-based release a silent no-op (the exact leak the mechanism
    existed to fix) — and DataFrame attributes don't survive Spark Connect.

    Tuple-unpackable (``pairs, stats = candidate_pairs(...)``) for callers
    that manage cache lifecycle themselves (tests, one-shot benches).
    """

    pairs: DataFrame
    stats: DataFrame
    _caches: tuple = field(default_factory=tuple)
    # released-state flags (ADVICE r05 — the old guard conflated 'nothing
    # keyed was cached' with 'already released'): keyed and stats caches are
    # tracked SEPARATELY so the documented two-phase pattern —
    # release(include_stats=False) now, release(include_stats=True) once the
    # caller is done with key_stats — still drops stats on the second call
    # instead of leaking it for the session's lifetime
    _released: bool = False
    _stats_released: bool = False

    def __iter__(self):
        return iter((self.pairs, self.stats))

    def release(self, include_stats: bool = True) -> None:
        """Unpersist the frames ``candidate_pairs`` cached. Call once the
        pairs output is materialized (persisted+counted, localCheckpointed,
        written); releasing earlier silently recomputes the keyed sides
        instead of erroring. ``include_stats=False`` keeps the stats frame
        cached when the caller still needs it (e.g. to commit lineage
        counters with a checkpoint)."""
        if not self._released:
            self._released = True
            for f in self._caches:
                f.unpersist()
            self._caches = ()
        elif not (include_stats and not self._stats_released):
            # a true no-op repeat: everything requested is already released
            _LOG.warning("BlockingResult.release: called twice")
            return
        if include_stats and not self._stats_released:
            self._stats_released = True
            self.stats.unpersist()


# strings at or beyond this length are prose/documents, not company names:
# phonetic keys (all first-word-determined, <=6 chars) degenerate into
# mega-blocks there, so long strings switch to LSH band keys instead
LONG_NAME_THRESHOLD = 48
_BAND_GRAM = 12   # char-gram width for the long-string band signatures

# Regime-overlap band: a hard cutover at LONG_NAME_THRESHOLD would give a
# 47-char name and its 49-char near-duplicate DISJOINT key sets (p:/s:/m: vs
# P:/gmin:/gmax:) — a silent recall cliff for edits that cross the length
# boundary. Names inside [LO, HI) emit BOTH key sets, so any near-dup pair
# whose lengths straddle the threshold still co-blocks. Width: an accepted
# pair (cos<=0.2 on unnormalized tf-idf) cannot differ by more than ~35
# chars of pure insertion (the extra grams alone push cosine similarity
# below ~0.7), so one side of such a pair always lands in the band.
REGIME_OVERLAP_LO = 36
REGIME_OVERLAP_HI = 72


def _long_band_keys(name):
    """Two MinHash-style band signatures over the full overlapping char-12-
    gram set, as ONE codegen'd regex pass: the grams come from
    regexp_extract_all with a zero-width lookahead (an overlapping-window
    extraction no loop or higher-order hash chain can match for cost), and
    the two 'orderings' are lexicographic min and max. Content-defined, so a
    single insertion shifts positions but not the extremes — near-identical
    long texts collide unless the edit hits the extreme gram itself.

    Deliberately NOT per-gram hashing: transform()/array_min over a hash
    lambda runs interpreted outside whole-stage codegen (~5-10ms/row on
    prose, and pathological when the array is both carried and exploded).
    Lexicographic extremes have a vocabulary bias (the corpus's smallest
    gram forms a larger block) — that is exactly what the hot-key salting
    and max_block caps downstream are for."""
    grams = F.regexp_extract_all(name, F.lit(f"(?=(.{{{_BAND_GRAM}}}))"), 1)
    return [
        F.concat(F.lit("gmin:"), F.array_min(grams)),
        F.concat(F.lit("gmax:"), F.array_max(grams)),
    ]


def block_keys_col(norm_name_col, prefix_len: int = 4):
    """array<string> of blocking keys for one normalized name (no Python).

    Length-adaptive: company-name-length strings get prefix + Soundex +
    metaphone-lite (recall property-tested vs the cosine acceptor); strings
    >= LONG_NAME_THRESHOLD (prose spans, document texts) get a longer prefix
    plus two char-gram band signatures — phonetic codes on prose put ~every
    doc sharing a first word into one block, which salting can only spread,
    not shrink."""
    name = F.coalesce(norm_name_col, F.lit(""))
    # three complementary keys; a consonant-skeleton 4th was measured ~98%
    # redundant with metaphone-lite and only inflated the pair join volume
    short_keys = F.array_distinct(
        F.array(
            F.concat(F.lit("p:"), F.substring(name, 1, prefix_len)),
            F.concat(F.lit("s:"), F.soundex(name)),
            F.concat(F.lit("m:"), metaphone_lite_col(name)),
        )
    )
    # array_distinct: a degenerate long string whose 12-grams are all equal
    # makes gmin == gmax; duplicate keys would emit the same (row, key)
    # twice and the ownership filter would pass every pair copy
    long_keys = F.array_distinct(
        F.array(
            F.concat(F.lit("P:"), F.substring(name, 1, 10)),
            *_long_band_keys(name),
        )
    )
    # a too-short name yields degenerate keys; require the name itself be
    # non-trivial, then dedupe ('p:' prefix may equal 'm:' code etc.)
    length = F.length(name)
    return (
        F.when(length >= REGIME_OVERLAP_HI, long_keys)
        .when(
            length >= REGIME_OVERLAP_LO, F.array_union(short_keys, long_keys)
        )
        .when(length >= 2, short_keys)
        .otherwise(F.array().cast("array<string>"))
    )


KEY_COL = "block_key"


def with_block_keys(
    df: DataFrame, norm_col: str = "norm_name", prefix_len: int = 4,
) -> DataFrame:
    """Explode one row per (row, block_key); ``all_keys`` keeps the row's full
    key array so the pair join can enforce min-shared-key ownership (each
    pair emitted by exactly ONE of its shared keys — no pair-dedup shuffle)."""
    return df.withColumn(
        "all_keys", block_keys_col(F.col(norm_col), prefix_len)
    ).withColumn(KEY_COL, F.explode("all_keys"))


def candidate_pairs(
    probe_keyed: DataFrame,
    registry_keyed: DataFrame,
    probe_id: str,
    registry_id: str,
    hot_key_threshold: int = 1_000,
    max_block: int = 100_000,
    max_key_pairs: int = 50_000_000,
    n_salt: int = 16,
    persist_keyed: bool = True,
) -> BlockingResult:
    """Join probe rows to registry rows on shared block keys, salted for skew.

    Returns a :class:`BlockingResult` handle (tuple-unpackable as
    ``(pairs, stats)``). ``pairs`` has one row per distinct
    (probe_id, registry_id) with all columns of both sides; ``key_stats``
    records per-key registry population and the dropped/hot flags so no cap is
    silent (lineage requirement, BASELINE.json north_rule).

    Pair uniqueness comes from min-shared-key OWNERSHIP, not a dedup shuffle:
    a pair sharing several block keys is emitted only by the smallest shared
    (non-dropped) key — each copy checks ``block_key == min(intersect)``
    locally, so the dropDuplicates shuffle over the full pair stream (round
    1's single biggest e2e cost) disappears. When dropped keys exist they are
    removed from the ownership intersection (the dropped set is pathological
    and tiny; if it ever exceeds the broadcastable bound we fall back to the
    dedup shuffle rather than lose pairs).
    """
    # both sides are scanned twice (key stats, then the join). persist_keyed
    # trades one cache write+read of the EXPLODED key frames (3× rows + the
    # all_keys array — memory-bandwidth traffic that does not speed up with
    # cores) against recomputing the key expressions in the join pass (CPU
    # that does). Callers whose upstream is already cached (match_documents
    # caches norm_map/reg) pass False at high core counts; standalone callers
    # keep True so the normalize chains run once per row.
    if persist_keyed:
        registry_keyed = registry_keyed.persist()
        probe_keyed = probe_keyed.persist()
    # the drop guard is PAIR VOLUME, not row count: a key with 30k registry
    # rows passes a row cap but meets 30k probes as ~10^9 join outputs —
    # reg_rows × probe_rows is what actually explodes a reducer. Both sides'
    # per-key counts come from ONE tagged-union agg (map-side combining):
    # round 2 ran two aggs plus a join of their outputs — three exchanges
    # where one suffices, pure fixed overhead on the e2e critical path.
    tagged = registry_keyed.select(
        KEY_COL, F.lit(1).alias("_r"), F.lit(0).alias("_p")
    ).unionByName(
        probe_keyed.select(KEY_COL, F.lit(0).alias("_r"), F.lit(1).alias("_p"))
    )
    stats = (
        tagged.groupBy(KEY_COL)
        .agg(F.sum("_r").alias("reg_rows"), F.sum("_p").alias("probe_rows"))
        # probe-only keys can never produce a pair; round 2's registry-left
        # join excluded them from the stats table — keep that contract
        .filter(F.col("reg_rows") > 0)
        .withColumn(
            "is_dropped",
            (F.col("reg_rows") > max_block)
            | (F.col("reg_rows") * F.col("probe_rows") > max_key_pairs),
        )
        .withColumn("is_hot", (F.col("reg_rows") > hot_key_threshold) & ~F.col("is_dropped"))
        .persist()
    )
    dropped_keys = [
        r[KEY_COL]
        for r in stats.filter(F.col("is_dropped")).select(KEY_COL).limit(10_001).collect()
    ]
    ownership_exact = len(dropped_keys) <= 10_000

    reg = registry_keyed.join(
        F.broadcast(stats.filter(~F.col("is_dropped")).select(KEY_COL, "is_hot")),
        KEY_COL,
    )
    # hot keys: registry row fans out to every salt shard; cold keys: shard 0
    reg = reg.withColumn(
        "salt",
        F.explode(
            F.when(F.col("is_hot"), F.sequence(F.lit(0), F.lit(n_salt - 1))).otherwise(
                F.array(F.lit(0))
            )
        ),
    ).drop("is_hot")

    probe = probe_keyed.join(
        F.broadcast(stats.filter(~F.col("is_dropped")).select(KEY_COL, "is_hot")),
        KEY_COL,
    ).withColumn(
        "salt",
        F.when(
            F.col("is_hot"), F.pmod(F.xxhash64(F.col(probe_id)), F.lit(n_salt)).cast("int")
        ).otherwise(F.lit(0)),
    ).drop("is_hot")

    probe = probe.withColumnRenamed("all_keys", "_p_keys")
    reg = reg.withColumnRenamed("all_keys", "_r_keys")
    joined = probe.join(reg, [KEY_COL, "salt"])
    if ownership_exact:
        shared = F.array_intersect("_p_keys", "_r_keys")
        if dropped_keys:
            shared = F.array_except(
                shared, F.array(*[F.lit(k) for k in dropped_keys])
            )
        pairs = joined.filter(F.col(KEY_COL) == F.array_min(shared)).drop(
            KEY_COL, "salt", "_p_keys", "_r_keys"
        )
    else:  # pathological dropped-key volume: exact dedup fallback
        pairs = (
            joined.drop(KEY_COL, "salt", "_p_keys", "_r_keys")
            .dropDuplicates([probe_id, registry_id])
        )
    # the two keyed inputs stay persisted until the caller has materialized
    # `pairs` (they back its lazy plan); callers MUST release() the handle
    # afterwards or a long-lived session accumulates three cached frames per
    # invocation
    return BlockingResult(
        pairs=pairs,
        stats=stats,
        _caches=(probe_keyed, registry_keyed) if persist_keyed else (),
    )

