"""Match resolution: threshold, argmin window, group fetch, GDUN decision.

Re-expresses the reference's per-row decision cascade as set-at-a-time
DataFrame ops:

* threshold accept  — dist <= 0.2 (automation_final2.py:435 et al., V4)
* top-1 per probe   — min-struct aggregate (replaces kneighbors ind[0][0], W1)
* group fetch       — equi-join on best matched name (replaces
                      ``dnb[dnb.NAME == dnb_name]``, J1)
* decision rungs    — three ``geo_mode`` variants:

  - ``"city"``  — reference ``dnb_proccess`` (automation_final2.py:427-675)
    EXACT rung order and subsets: the city rung fires FIRST when the nearest
    group city is accepted (min city_dist <= 0.2) and is TERMINAL — gdun
    uniqueness is tested within the argmin-city subset ``matc1 = matc[CITY ==
    dnb_city]`` (:445-452), matching or emitting -67000 with rollups over
    that subset; only when the city rung cannot fire does the name-unique
    rung over the whole group run (:526-547, 'unique gdun for assigned duns
    name'); then the HQ rung (:560-600), same argmin-subset semantics with
    its own -67000 literal; else Manual (-1, DUNS_count=-1, dun_num=-1,
    :658-675).
  - ``"state"`` — reference ``dnb_c_proccess`` (:677-827): the state rung
    fires when some group row's state EQUALS the probe state (the KNN
    nearest-state probe accepts only on exact equality, :694) and is
    TERMINAL over the equal-state subset; else name-unique; else Manual.
    No HQ rung in this mode.
  - ``"merged"`` — the engine's own product order (name → city → state → HQ
    → -67000) with whole-group rollups; kept for the document-matching API
    where no reference counterpart exists (probes carry no geo or the caller
    wants all rungs).

* per-rung rollups — DUNS_COUNT / FJ_DUNS / LIST_OF_DUNS are computed over
  the WINNING rung's subset (matc1 for city/state/HQ rungs, the whole
  matched group for the name rung, -1/-1/empty for Manual), exactly like the
  reference's per-branch ``matc1.DUNS_NUM.unique()`` rollups
  (automation_final2.py:457-470,577-592).
* sentinels — 'multiple_gduns' / 'multiple_gduns_hq' (-67000 with capped
  LIST_OF_DUNS, automation_final2.py:457-466,516-517,640), 'manual' (-1,
  automation_final2.py:658-675).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

THRESHOLD = 0.2  # cosine distance acceptor, automation_final2.py:435
GDUN_MANUAL = -1
GDUN_MULTIPLE = -67000
GDUN_LIQUIDATED = -21000
GDUN_MULTI_PARENT = -45000
LIST_OF_DUNS_CAP = 100  # automation_final2.py:457-466

# applyInPandas groups beyond this many rows skip the per-group re-fit (the
# whole group would land in ONE worker's memory as a pandas frame): they fall
# back to the caller's registry-wide cosine UDF (or no city rung at all) and
# are flagged in the output + executor log. Mirrors blocking's pair-volume
# guard: no unbounded single-task materialization, never silent.
MAX_REFIT_GROUP_ROWS = 50_000


def best_match_per_probe(
    scored: DataFrame,
    probe_id: str | list[str] = "mention_id",
    dist_col: str = "cos_dist",
    name_col: str = "r_norm",
    threshold: float = THRESHOLD,
) -> DataFrame:
    """Accept pairs under the threshold; keep the single best registry *name*
    per probe key (``probe_id``: one column or a list, e.g. (m_norm, tag)
    for a per-registry best) with the deterministic (dist asc, name asc)
    tie-break — struct min compares fields left to right.

    One hash aggregate instead of a row_number window: no per-partition sort
    of the scored pair stream, and the partial (map-side) aggregate shrinks
    every partition to one row per probe before anything moves — on a stream
    already hash-partitioned by the key's first column it is sort-free and
    shuffle-free. Returns (*probe_id, name_col, dist_col)."""
    keys = [probe_id] if isinstance(probe_id, str) else list(probe_id)
    best = F.min(F.struct(F.col(dist_col), F.col(name_col))).alias("_best")
    return (
        scored.filter(F.col(dist_col) <= threshold)
        .groupBy(*keys)
        .agg(best)
        .select(
            *keys,
            F.col(f"_best.{name_col}").alias(name_col),
            F.col(f"_best.{dist_col}").alias(dist_col),
        )
    )


def _with_group_refit_dists(
    joined: DataFrame,
    probe_id: str,
    probe_city: str | None,
    probe_hq: str | None,
    city_cosine_udf=None,
    max_group_rows: int | None = None,
) -> DataFrame:
    """city_dist / hq_dist via a PER-GROUP TF-IDF re-fit (the reference's
    exact V5 semantics, automation_final2.py:437-441,687-691 and the HQ
    probe :560-600): within each probe's matched-name group, fit a fresh
    smooth-IDF on the group's own city column (duplicates included) and
    score the probe/HQ city against each group city under those weights.

    One applyInPandas keyed by the probe id — each group is the probe's
    registry rows (bounded by the matched name's fan-out), and the fit is a
    few short strings, so the kernel is trivially cheap; the shuffle it
    introduces is the same hashpartitioning(probe_id) the decision agg right
    after needs anyway.

    Groups larger than ``max_group_rows`` NEVER enter the kernel (the whole
    group would materialize as one pandas frame on one worker): they take
    the registry-wide ``city_cosine_udf`` when the caller supplied one, else
    city_dist/hq_dist degrade to 1.0 (no geo tie-break — the name rung and
    Manual still decide). Oversized groups are flagged (``refit_capped``)
    and logged executor-side."""
    from pyspark.sql import types as T

    from gduns_name_match_spark.functions.similarity import (
        cosine_dist_local,
        fit_idf_local,
    )

    if max_group_rows is None:  # module global read at call time (testable)
        max_group_rows = MAX_REFIT_GROUP_ROWS
    # group-size census rides the same hashpartitioning(probe_id) the kernel
    # and the decision agg need — no extra exchange
    w = Window.partitionBy(probe_id)
    joined = joined.withColumn("_grp_rows", F.count("*").over(w)).withColumn(
        "refit_capped", F.col("_grp_rows") > max_group_rows
    )

    out_schema = T.StructType(
        joined.schema.fields
        + [
            T.StructField("city_dist", T.DoubleType()),
            T.StructField("hq_dist", T.DoubleType()),
        ]
    )
    cols = [f.name for f in out_schema.fields]

    def kernel(pdf):
        if pdf.empty:
            for c in ("city_dist", "hq_dist"):
                pdf[c] = []
            return pdf[cols]
        cities = pdf["g_city"].fillna("").tolist()
        idf = fit_idf_local(cities)
        if probe_city is not None:
            p = pdf[probe_city].iloc[0] or ""
            pdf["city_dist"] = [cosine_dist_local(p, c, idf) for c in cities]
        else:
            pdf["city_dist"] = 1.0
        hq = (pdf[probe_hq].iloc[0] or "") if probe_hq is not None else ""
        if hq:
            pdf["hq_dist"] = [cosine_dist_local(hq, c, idf) for c in cities]
        else:
            pdf["hq_dist"] = 1.0
        return pdf[cols]

    small = joined.filter(~F.col("refit_capped"))
    refit = small.groupBy(probe_id).applyInPandas(kernel, out_schema)

    big = joined.filter(F.col("refit_capped"))
    if city_cosine_udf is not None and probe_city is not None:
        big_city = city_cosine_udf(F.col(probe_city), F.col("g_city"))["cos_dist"]
    else:
        big_city = F.lit(1.0)
    if city_cosine_udf is not None and probe_hq is not None:
        big_hq = F.when(F.col(probe_hq) == "", F.lit(1.0)).otherwise(
            city_cosine_udf(F.col(probe_hq), F.col("g_city"))["cos_dist"]
        )
    else:
        big_hq = F.lit(1.0)

    @F.pandas_udf("boolean")
    def _warn_capped(n: pd.Series) -> pd.Series:
        import logging

        if len(n):
            logging.getLogger(__name__).warning(
                "group re-fit capped: matched-name group of up to %s rows "
                "exceeds MAX_REFIT_GROUP_ROWS — falling back to "
                "registry-wide city IDF",
                int(n.max()),
            )
        return pd.Series([True] * len(n))

    big = big.withColumn("city_dist", big_city).withColumn("hq_dist", big_hq)
    # the warn kernel is Arrow-batched and only the (normally empty) capped
    # branch pays for it; the True it returns doubles as the lineage flag
    big = big.withColumn("refit_capped", _warn_capped(F.col("_grp_rows")))
    return refit.unionByName(big).drop("_grp_rows")


def _decide_reference(joined: DataFrame, probe_id: str, mode_expr) -> DataFrame:
    """Reference-exact decision over the per-probe group rows ('city' =
    dnb_proccess, 'state' = dnb_c_proccess; see module docstring).

    The argmin-city subsets (``matc1 = matc[CITY == dnb_city]``,
    automation_final2.py:445-452 / :567-570 for HQ) come from one
    whole-partition window min over struct(dist, city) — lexicographic struct
    min IS the reference's KNN argmin with a deterministic min-string
    tie-break where sklearn picks first-index. The window's
    hashpartitioning(probe_id) is the same exchange the decision aggregation
    needs, so subset flags cost a partition-local sort, not a shuffle.

    ``mode_expr`` must be constant within a probe group (the cascade bakes
    the mode into the probe key); min() makes a violation deterministic
    rather than undefined."""
    w = Window.partitionBy(probe_id)
    cstar = F.min(F.struct(F.col("city_dist"), F.col("g_city"))).over(w)
    hstar = F.min(F.struct(F.col("hq_dist"), F.col("g_city"))).over(w)
    joined = (
        joined.withColumn("_at_cstar", F.col("g_city") == cstar["g_city"])
        .withColumn("_at_hstar", F.col("g_city") == hstar["g_city"])
        .withColumn("_mode", mode_expr)
    )

    def sset(cond, col):
        return F.sort_array(F.collect_set(F.when(cond, F.col(col))))

    agg = joined.groupBy(probe_id).agg(
        F.min("best_name").alias("best_name"),
        F.min("best_dist").alias("best_dist"),
        F.min("_mode").alias("_mode"),
        F.min("city_dist").alias("min_city_dist"),
        F.min("hq_dist").alias("min_hq_dist"),
        F.max("refit_capped").alias("refit_capped"),
        F.sort_array(F.collect_set("g_gdun")).alias("_gduns"),
        F.sort_array(F.collect_set("g_duns")).alias("_duns"),
        F.sort_array(F.collect_set("g_gnam")).alias("_gnams"),
        sset(F.col("_at_cstar"), "g_gdun").alias("_gduns_c"),
        sset(F.col("_at_cstar"), "g_duns").alias("_duns_c"),
        sset(F.col("_at_cstar"), "g_gnam").alias("_gnams_c"),
        sset(F.col("state_eq") == 1, "g_gdun").alias("_gduns_s"),
        sset(F.col("state_eq") == 1, "g_duns").alias("_duns_s"),
        sset(F.col("state_eq") == 1, "g_gnam").alias("_gnams_s"),
        sset(F.col("_at_hstar"), "g_gdun").alias("_gduns_h"),
        sset(F.col("_at_hstar"), "g_duns").alias("_duns_h"),
        sset(F.col("_at_hstar"), "g_gnam").alias("_gnams_h"),
    )

    city_mode = F.col("_mode") == "city"
    state_mode = F.col("_mode") == "state"
    # rung availability — the reference's return points: a FIRED city/state/
    # HQ rung is TERMINAL (match or -67000, no fall-through); the state rung
    # fires on exact equality with the nearest state (equality with ANY group
    # state implies the KNN argmin is an equal state at distance 0, :694)
    city_av = city_mode & (F.col("min_city_dist") <= THRESHOLD)
    state_av = state_mode & (F.size("_gduns_s") > 0)
    hq_av = city_mode & (F.col("min_hq_dist") <= THRESHOLD)

    agg = agg.withColumn(
        "rung",
        F.when(city_av & (F.size("_gduns_c") == 1), "city_match")
        .when(city_av, "city_multi")
        .when(state_av & (F.size("_gduns_s") == 1), "state_match")
        .when(state_av, "state_multi")
        .when(F.size("_gduns") == 1, "name")
        .when(hq_av & (F.size("_gduns_h") == 1), "hq_match")
        .when(hq_av, "hq_multi")
        .otherwise("manual"),
    )

    def per_rung(c, s, full, h, manual):
        return (
            F.when(F.col("rung").isin("city_match", "city_multi"), c)
            .when(F.col("rung").isin("state_match", "state_multi"), s)
            .when(F.col("rung") == "name", full)
            .when(F.col("rung").isin("hq_match", "hq_multi"), h)
            .otherwise(manual)
        )

    out = (
        agg.withColumns(
            {
                "n_gduns": F.size("_gduns").cast("long"),
                # WINNING rung's rollup subsets (reference matc1/matc
                # semantics): DUNS_COUNT / FJ_DUNS / LIST_OF_DUNS describe
                # the rows the decision was actually made over
                "_duns_sel": per_rung(
                    F.col("_duns_c"), F.col("_duns_s"), F.col("_duns"),
                    F.col("_duns_h"), F.array().cast("array<long>"),
                ),
                "_gduns_sel": per_rung(
                    F.col("_gduns_c"), F.col("_gduns_s"), F.col("_gduns"),
                    F.col("_gduns_h"), F.array().cast("array<long>"),
                ),
                "list_of_gdun_names": F.slice(
                    per_rung(
                        F.col("_gnams_c"), F.col("_gnams_s"), F.col("_gnams"),
                        F.col("_gnams_h"), F.array().cast("array<string>"),
                    ),
                    1, LIST_OF_DUNS_CAP,
                ),
            }
        )
        .withColumns(
            {
                # Manual: DUNS_count=-1, dun_num=-1 (automation_final2.py
                # :658-675) — NOT 0/NULL
                "n_duns": F.when(F.col("rung") == "manual", F.lit(-1))
                .otherwise(F.size("_duns_sel"))
                .cast("long"),
                "min_duns": F.get("_duns_sel", 0),
                "list_of_duns": F.slice("_duns_sel", 1, LIST_OF_DUNS_CAP),
                "list_of_gduns": F.slice("_gduns_sel", 1, LIST_OF_DUNS_CAP),
                "gdun": F.when(F.col("rung") == "city_match", F.get("_gduns_c", 0))
                .when(F.col("rung") == "state_match", F.get("_gduns_s", 0))
                .when(F.col("rung") == "name", F.get("_gduns", 0))
                .when(F.col("rung") == "hq_match", F.get("_gduns_h", 0))
                .when(F.col("rung") == "manual", F.lit(GDUN_MANUAL))
                .otherwise(F.lit(GDUN_MULTIPLE))
                .cast("long"),
                "match_status": F.when(
                    F.col("rung") == "city_match", "matched_city_tiebreak"
                )
                .when(F.col("rung") == "state_match", "matched_state_tiebreak")
                .when(F.col("rung") == "name", "matched_name")
                .when(F.col("rung") == "hq_match", "matched_hq_tiebreak")
                .when(F.col("rung") == "hq_multi", "multiple_gduns_hq")
                .when(F.col("rung") == "manual", "manual")
                .otherwise("multiple_gduns"),
                "fj_duns": F.when(F.col("rung") == "manual", F.lit(-1))
                .when(F.size("_duns_sel") == 1, F.get("_duns_sel", 0))
                .otherwise(F.lit(-1))
                .cast("long"),
            }
        )
        .drop(
            "_mode", "_gduns", "_duns", "_gnams", "_gduns_c", "_duns_c",
            "_gnams_c", "_gduns_s", "_duns_s", "_gnams_s", "_gduns_h",
            "_duns_h", "_gnams_h", "_duns_sel", "_gduns_sel",
        )
    )
    return out


def resolve_gdun(
    best: DataFrame,
    registry: DataFrame,
    city_cosine_udf=None,
    probe_id: str = "mention_id",
    probe_city: str | None = "m_city",
    probe_state: str | None = "m_state",
    probe_hq: str | None = None,
    group_refit: bool = False,
    geo_mode: str = "merged",
    mode_col: str | None = None,
) -> DataFrame:
    """Decision cascade from best-name match to a GDUN or a sentinel status.

    ``registry`` must carry (norm_name, norm_city, st, duns_num, gl_ult_dun).
    Output: one row per probe with (gdun, match_status, rung, fj_duns,
    list_of_duns, n_gduns, best_name, best_dist, ...).

    ``group_refit=True`` scores the city/HQ rungs with a per-group TF-IDF
    re-fit (reference-exact V5); the default scores them with the caller's
    ``city_cosine_udf`` (a one-registry make_scorer over a registry-wide
    city IDF — cheaper, one fitted model).

    ``geo_mode`` picks the rung order/subset semantics (see module
    docstring): ``"merged"`` (engine default), ``"city"`` (reference
    dnb_proccess), ``"state"`` (reference dnb_c_proccess). ``mode_col``
    overrides with a per-row column holding 'city'/'state' — a mixed frame
    (the cascade's bank + credit-union probes) decides each probe under its
    own reference function in ONE aggregation pass.
    """
    # GL_ULT_NAM is optional registry metadata — when present it feeds the
    # 'Multiple GDUNS found,{names}' FJ_GDUN_NAME composition in the SPNV
    # compat view (reference automation_final2.py:486-526)
    has_gnam = "gl_ult_nam" in registry.columns
    grp = registry.select(
        F.col("norm_name").alias("best_name"),
        F.col("norm_city").alias("g_city"),
        F.col("st").alias("g_state"),
        F.col("duns_num").alias("g_duns"),
        F.col("gl_ult_dun").alias("g_gdun"),
        (F.col("gl_ult_nam") if has_gnam else F.lit(None)).cast("string").alias(
            "g_gnam"
        ),
    )
    joined = best.join(grp, "best_name")  # group fetch (J1)

    if group_refit and (probe_city is not None or probe_hq is not None):
        joined = _with_group_refit_dists(
            joined, probe_id, probe_city, probe_hq, city_cosine_udf
        )
    else:
        has_city = probe_city is not None and city_cosine_udf is not None
        if has_city:
            city = city_cosine_udf(F.col(probe_city), F.col("g_city"))
            joined = joined.withColumn("city_dist", city["cos_dist"])
        else:
            joined = joined.withColumn("city_dist", F.lit(1.0))

        # HQ rung: '' means "no HQ known" (non-null so it can be a join key)
        has_hq = probe_hq is not None and city_cosine_udf is not None
        if has_hq:
            joined = joined.withColumn(
                "hq_dist",
                F.when(F.col(probe_hq) == "", F.lit(1.0)).otherwise(
                    city_cosine_udf(F.col(probe_hq), F.col("g_city"))["cos_dist"]
                ),
            )
        else:
            joined = joined.withColumn("hq_dist", F.lit(1.0))
        joined = joined.withColumn("refit_capped", F.lit(False))

    # the state rung is the same expression on either distance path. The
    # '' guard mirrors the HQ rung's: a geo-less probe (m_state='') must
    # never terminally "state-match" a registry row whose state is blank —
    # the reference's mention-side ' ' fill vs registry-side NaN also never
    # compares equal (dnb_c_proccess :694)
    joined = joined.withColumn(
        "state_eq",
        (
            (F.col(probe_state) != "")
            & (F.col(probe_state) == F.col("g_state"))
        ).cast("int")
        if probe_state is not None
        else F.lit(0),
    )

    if geo_mode != "merged" or mode_col is not None:
        mode_expr = F.col(mode_col) if mode_col is not None else F.lit(geo_mode)
        return _decide_reference(joined, probe_id, mode_expr)

    # ONE hash-aggregatable pass: every "how many distinct gduns pass rung X"
    # is size(collect_set(...)) over a set the audit columns need anyway —
    # count_distinct here would compile to an Expand (6x the agg's input rows,
    # one copy per distinct grouping) plus SortAggregate chains. Set state is
    # bounded: a group is one matched name's registry rows (<= max_block) and
    # collect_set dedupes in the partial (map-side) aggregate.
    agg = (
        joined.groupBy(probe_id)
        .agg(
            # unique per probe (the fan-out copies one best row across the
            # group), so min == the value; min keeps the agg hash-friendly
            # and deterministic where first() is pick-any
            F.min("best_name").alias("best_name"),
            F.min("best_dist").alias("best_dist"),
            F.sort_array(F.collect_set("g_gdun")).alias("_gduns"),
            F.min("city_dist").alias("min_city_dist"),
            # gdun among rows at the minimal city distance (if accepted)
            F.sort_array(
                F.collect_set(
                    F.when(F.col("city_dist") <= THRESHOLD, F.col("g_gdun"))
                )
            ).alias("_gduns_city_ok"),
            F.min_by("g_gdun", F.struct("city_dist", "g_gdun")).alias(
                "gdun_by_city"
            ),
            F.sort_array(
                F.collect_set(F.when(F.col("state_eq") == 1, F.col("g_gdun")))
            ).alias("_gduns_state"),
            F.min("hq_dist").alias("min_hq_dist"),
            F.sort_array(
                F.collect_set(
                    F.when(F.col("hq_dist") <= THRESHOLD, F.col("g_gdun"))
                )
            ).alias("_gduns_hq_ok"),
            F.min_by("g_gdun", F.struct("hq_dist", "g_gdun")).alias("gdun_by_hq"),
            # audit-column feeds for the SPNV compat view (reference
            # automation_final2.py:457-526): DUNS_COUNT, FJ_DUNS on a unique
            # DUNS, the capped id/name lists behind 'Multiple GDUNS found,{x}'
            F.sort_array(F.collect_set("g_duns")).alias("_duns"),
            F.slice(
                F.sort_array(F.collect_set("g_gnam")), 1, LIST_OF_DUNS_CAP
            ).alias("list_of_gdun_names"),
            F.max("refit_capped").alias("refit_capped"),
        )
        .withColumns(
            {
                "n_gduns": F.size("_gduns").cast("long"),
                "n_gduns_city_ok": F.size("_gduns_city_ok").cast("long"),
                "n_gduns_state": F.size("_gduns_state").cast("long"),
                # sorted-asc sets make head == min; F.get (not element_at):
                # ANSI mode turns element_at on an empty set into a hard
                # INVALID_ARRAY_INDEX error, F.get yields the NULL min() gave
                "gdun_by_state": F.get("_gduns_state", 0),
                "n_gduns_hq_ok": F.size("_gduns_hq_ok").cast("long"),
                "any_gdun": F.get("_gduns", 0),
                "list_of_duns": F.slice("_duns", 1, LIST_OF_DUNS_CAP),
                "n_duns": F.size("_duns").cast("long"),
                "min_duns": F.get("_duns", 0),
                "list_of_gduns": F.slice("_gduns", 1, LIST_OF_DUNS_CAP),
            }
        )
        .drop("_gduns", "_gduns_city_ok", "_gduns_state", "_gduns_hq_ok", "_duns")
    )

    # cascade: unique gdun → gdun; else city tie-break; else state; else -67000
    decided = agg.withColumn(
        "gdun",
        F.when(F.col("n_gduns") == 1, F.col("any_gdun"))
        .when(
            (F.col("min_city_dist") <= THRESHOLD) & (F.col("n_gduns_city_ok") == 1),
            F.col("gdun_by_city"),
        )
        .when(F.col("n_gduns_state") == 1, F.col("gdun_by_state"))
        .when(
            (F.col("min_hq_dist") <= THRESHOLD) & (F.col("n_gduns_hq_ok") == 1),
            F.col("gdun_by_hq"),
        )
        .otherwise(F.lit(GDUN_MULTIPLE)),
    ).withColumn(
        "match_status",
        F.when(F.col("n_gduns") == 1, F.lit("matched_name"))
        .when(
            (F.col("min_city_dist") <= THRESHOLD) & (F.col("n_gduns_city_ok") == 1),
            F.lit("matched_city_tiebreak"),
        )
        .when(F.col("n_gduns_state") == 1, F.lit("matched_state_tiebreak"))
        .when(
            (F.col("min_hq_dist") <= THRESHOLD) & (F.col("n_gduns_hq_ok") == 1),
            F.lit("matched_hq_tiebreak"),
        )
        .otherwise(F.lit("multiple_gduns")),
    )
    # fj_duns / rung for output uniformity with the reference modes
    decided = decided.withColumn(
        "fj_duns",
        F.when(F.col("n_duns") == 1, F.col("min_duns"))
        .when(F.col("n_duns") > 1, F.lit(-1))
        .cast("long"),
    ).withColumn("rung", F.col("match_status"))
    return decided.drop(
        "n_gduns_city_ok", "gdun_by_city", "n_gduns_state", "gdun_by_state",
        "any_gdun", "min_hq_dist", "n_gduns_hq_ok", "gdun_by_hq",
    )


# Non-null defaults of the reference's Manual routing (gdun_name='Manual',
# gdun_final=-1, DUNS_count=-1, dun_num=-1, automation_final2.py:658-675);
# the remaining decision columns (best_name, best_dist, min_city_dist,
# min_duns) are genuinely unknown for an unmatched probe and stay NULL.
def _manual_defaults() -> dict:
    return {
        "n_gduns": F.lit(0).cast("long"),
        "n_duns": F.lit(-1).cast("long"),
        "fj_duns": F.lit(-1).cast("long"),
        "list_of_duns": F.array().cast("array<long>"),
        "list_of_gduns": F.array().cast("array<long>"),
        "list_of_gdun_names": F.array().cast("array<string>"),
        "gdun": F.lit(GDUN_MANUAL).cast("long"),
        "match_status": F.lit("manual"),
        "rung": F.lit("manual"),
    }


def fill_manual_defaults(joined: DataFrame) -> DataFrame:
    """Null-fill the decision columns of a ``probes LEFT JOIN decided`` frame
    to the Manual routing. This replaced round 2's anti-join + union
    fallback operator: the left join the caller already needs does the set
    difference for free, so completing the decision space costs zero extra
    stages."""
    return joined.withColumns(
        {c: F.coalesce(F.col(c), d) for c, d in _manual_defaults().items()}
    )
