"""The full GDUN decision cascade (reference automation_final2.py §3.1),
set-at-a-time — ONE blocking+scoring pass over all registries.

Reference control flow per input row (automation_final2.py:1451-1472,
driver loops :1476-1481, :1557-1562):

  route by corporate suffix / 'city of' (:346-351)
    stream2 (corporate)  → spnv_check1 → DNB direct (:1463-1472)
    stream1 (every row, spnv_check :1451-1460 → active_proccess):
      state imputation from gazetteer when STATE blank and the CITY is
        unambiguous (Count==1)
      fdic_active → (match; HQ city from the MAINOFF=1 branch, :995-996)
                   → DNB on FDIC name, HQ as the last tie-break rung
      fdic_events (title_change) → SOURCE='LQ' → -21000 (:1160-1170)
                   else → DNB on the ULTIMATE chained parent name
      credit_proccess (:830) — fallback for every failed bank row, but
        GATED on the original name's CU suffix (:834; non-CU-suffixed rows
        skip straight to the DNB fallback):
        cu_active → (match) → DNB on CU name
        cu_mna    → (match) → DNB on the merger parent name
        cu_closed → (match) → -21000 liquidated (:926)
      dnb fallback → Manual (-1, :658-675)

Spark-first decomposition (replaces round 1's ~8 sequential match jobs):

* PASS 1 — mentions vs the UNION of all registry names (tagged by registry):
  one blocking + Arrow-scoring job; per-(mention, registry) best via one
  sort-free aggregate. At 10^12 mentions this is the only mention-volume
  scoring job.
* PASS 2 — candidate DNB *targets* (CU names, merger parents, FDIC names,
  event ultimate parents) vs DNB: mention-INDEPENDENT, O(|registries|) — the
  second hop of every cascade branch precomputed once.
* branch assembly + terminal GDUN decision are pure joins; each branch
  decides under ITS reference function's rung semantics (CU branches =
  dnb_c_proccess STATE rung, everything else = dnb_proccess CITY + HQ
  rungs — resolve_gdun geo_mode, reference-exact rung order/subsets
  including terminal -67000 and Manual fall-through); cascade priority is
  one row_number window keyed by the full probe identity INCLUDING the route
  flags (mentions sharing a normalized name but different routes decide
  independently). A branch whose DNB hop missed is Manual-TERMINAL at its
  priority (the reference returns Manual from inside the branch, never
  falling to a later registry).
* the FDIC branch is CITY-GATED like the reference's active_proccess: the
  mention city probes the matched FDIC name group's own cities (fresh
  per-group TF-IDF), the branch proceeds to DNB only on acceptance, and the
  HQ tie-break city comes from the cert at the matched city (see
  _fdic_city_gate — closes round-3 documented divergence 2).
* OLD_GDUN self-audit: when mentions carry old_gdun, the output's match_ind
  is 'Y'/'N' vs the final gdun (reference automation_final2.py:472-479).

City/HQ tie-breaks use the reference-exact per-group TF-IDF re-fit
(resolve_gdun(group_refit=True) → one applyInPandas over each matched
group; round 2's registry-wide-IDF approximation is closed).

Per-registry IDF (round-3 documented divergence 1, closed): every
(probe, name, registry) row scores under ITS registry's own smooth-IDF,
fit over the registry table's non-distinct name column exactly like the
reference's one-TfidfVectorizer-per-table (automation_final2.py:400-407);
the tables come from ONE tagged aggregation pass and ship as one broadcast
(see build_idf_by_tag / make_scorer, adversarial fixture in
tests/test_cascade.py::test_per_registry_idf_reference_parity).

Title-change chain (round-5 parity; closes the round-4 documented
divergence): each candidate parent is geo-gated on its OWN matched
FDIC-active name — state-exact then city<=0.2 (_parent_geo_gate,
automation_final2.py:1090-1137 / :1327-1378) — and only ACCEPTED parents
emit branch rows (DNB hop on the matched FDIC name); co>1 marks TEMP2='Y'.
co==0 falls through, in reference order, to the kre==0-guarded unique-cert
state fallback, the LQ liquidation check (path A only), the title-registry
second loop (_parent_loc_gate, exactly-one-survivor → DNB on the parent
name with HQ=PARENT_CITY), and finally Manual-terminal (path A) / the
credit fallbacks (path B). Path B's lone parent resolves UNGATED on the
parent name itself (:1255-1281); a lone parent with NO FDIC match is
re-probed per the reference (:1283-1316): CU-suffixed original names probe
the PARENT against CU-active (title_cu → dnb_c on the matched CU name), a
CU miss goes straight to DNB on the mention (title_dnb), and
non-CU-suffixed rows fall to the plain DNB fallback — closed in round 6
(was the last documented behavioral divergence). Residual documented
divergences (each fixture-bound in tests/test_cascade.py): the reference's
frame-order picks (first cert, per-iteration SOURCE overwrite) are
deterministic minima / latest-event-wins here, and the per-parent
candidate identity is root(parent) where the reference probes the raw
PARENT_NAME (:1076) — equivalent whenever the registry's own refresh has
already rewritten parents to their roots (fdic_events.py:379-392).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gduns_name_match_spark.functions.normalize import (
    is_corporate_routed_col,
    is_credit_union_col,
    normalize_city_col,
    normalize_name_col,
)
from gduns_name_match_spark.functions.similarity import (
    build_idf_by_tag,
    make_scorer,
    score_pairs,
)
from gduns_name_match_spark.operators.blocking import (
    candidate_pairs,
    with_block_keys,
)
from gduns_name_match_spark.operators.cluster import chase_to_root
from gduns_name_match_spark.operators.resolve import (
    GDUN_LIQUIDATED,
    GDUN_MANUAL,
    THRESHOLD,
    best_match_per_probe,
    resolve_gdun,
)

# priority of cascade stages (reference branch order: every stream-1 row
# tries the FDIC/bank branches first, the CU branches are the suffix-gated
# credit_proccess fallback); lower wins
STAGE_RANK = {
    "dnb_corporate": 0,
    "fdic_active": 1,
    # geo-ACCEPTED chain parents return from inside the title-change block
    # BEFORE any fallback (:1131-1140 co>0 return) — above fdic_state
    "title_change": 2,
    # co==0 fall-through order inside the block: the kre==0 unique-cert
    # state fallback (:1143) precedes the LQ check (:1157), which precedes
    # the second loop (:1171); a failed path-A chain ends Manual-terminal
    # (:1203-1219) before the CU/DNB fallbacks can fire
    "fdic_state": 3,
    "title_change_lq": 4,
    "title_change_loc": 5,
    "title_manual": 6,
    # path-B lone-parent re-probe (:1283-1316): the CU-suffixed mention's
    # PARENT probes CU-active (title_cu → dnb_c on the matched CU name); a
    # CU miss goes STRAIGHT to DNB on the mention (title_dnb) — both return
    # from inside the chain, so they outrank every credit/DNB fallback
    "title_cu": 7,
    "title_dnb": 8,
    "cu_active": 9,
    "cu_mna": 10,
    "cu_closed": 11,
    "dnb_fallback": 12,
}

# gdun→GL_ULT_NAM dim rows at or under this count broadcast into the output
# join (2 scalar columns ⇒ ≤~100 MB); above it the join degrades to shuffle
BROADCAST_GNAMES_LIMIT = 1_000_000

# probe identity through the whole cascade: the normalized name, the geo keys
# AND the route flags — two mentions sharing a name but routed differently
# (corporate vs bank/CU) must decide independently
PROBE_KEYS = ["m_norm", "m_city_norm", "m_state", "is_corp", "is_cu"]

# per-branch audit scalars threaded into the SPNV compat view (VERDICT r05
# task 2 — these replace compat.py's documented stand-ins):
#   hop_name            — the DNB hop's probe target = the reference's
#                         'final active Name' / 'active_name' family
#   parent_active_dist  — p_ac_dis, the accepted parent's FDIC-probe distance
#                         (automation_final2.py:1076 → 'Parent_active_distance')
#   parent_city_dist    — p_c_d (:1088): the reference assigns the per-parent
#                         STATE-probe distance to 'parent_city_distance' — a
#                         reference quirk replicated verbatim
#   list_parents_fdic   — x (:1077): ','-prefixed full candidate list on co>0
#                         rows, stripped (:1172) on the co==0 fall-throughs
#   list_parents_geo    — y (:1106): the accepted-so-far list at emission time
#                         (the reference's per-iteration partial; its own
#                         reindex :1523 then DROPS the column — kept here for
#                         audit tests only)
#   parent_unique       — parent_unique_count (:1063-1066): 1 iff list_1 has
#                         exactly one parent, 0 otherwise, NULL off-chain
#   branch_source       — the title-registry row's own SOURCE riding into the
#                         SPNV SOURCE column (dnb_proccess only defaults
#                         SOURCE='DNB' when unset, :556-558)
_AUDIT_TYPES = {
    "hop_name": "string",
    "parent_active_dist": "double",
    "parent_city_dist": "double",
    "list_parents_fdic": "string",
    "list_parents_geo": "string",
    "parent_unique": "long",
    "branch_source": "string",
}
_AUDIT_NAMES = list(_AUDIT_TYPES)


def _audit(hop=None, pad=None, pcd=None, lpf=None, lpg=None, pu=None,
           bsrc=None):
    """Audit-column select list with typed-NULL defaults (see _AUDIT_TYPES)."""
    vals = dict(zip(_AUDIT_NAMES, [hop, pad, pcd, lpf, lpg, pu, bsrc]))
    return [
        (v if v is not None else F.lit(None).cast(_AUDIT_TYPES[k])).alias(k)
        for k, v in vals.items()
    ]


@dataclass
class Registries:
    """Normalized registry tables (see sources/fixtures.py for shapes)."""

    dnb: DataFrame          # duns_num, company, city, st, gl_ult_dun, ...
    fdic_active: DataFrame  # fdic_id, name, city, state, mainoff, ...
    fdic_events: DataFrame  # fdic_id, name, parent_fdic_id, parent_name, effdate, source
    cu_active: DataFrame    # ncua_id, name, city, state, ...
    cu_mna: DataFrame | None = None    # old/new ncua ids, name, parent_name
    cu_closed: DataFrame | None = None
    gazetteer: DataFrame | None = None  # city, state, count


def impute_state(mentions: DataFrame, gazetteer: DataFrame | None) -> DataFrame:
    """Reference spnv_check (:1451-1460): blank STATE + unambiguous CITY
    (gazetteer Count==1) → impute the gazetteer state."""
    if gazetteer is None:
        return mentions
    gz = gazetteer.filter(F.col("count") == 1).select(
        normalize_city_col(F.col("city")).alias("m_city_norm"),
        F.col("state").alias("gz_state"),
    )
    out = mentions.join(F.broadcast(gz), "m_city_norm", "left")
    return out.withColumn(
        "m_state",
        F.coalesce(
            F.when(
                F.col("m_state").isNull() | (F.trim(F.col("m_state")) == ""),
                F.col("gz_state"),
            ).otherwise(F.col("m_state")),
            F.lit(""),  # keep the join-key invariant: never NULL
        ),
    ).drop("gz_state")


def _norm_reg(df: DataFrame | None, name_col: str) -> DataFrame | None:
    if df is None:
        return None
    return df.withColumn("norm_name", normalize_name_col(F.col(name_col)))


_FDIC_GATE_SCHEMA = (
    "m_norm string, m_city_norm string, m_state string, is_corp boolean, "
    "is_cu boolean, t_norm string, active_city_dist double, hq_city string, "
    "city_accepted boolean"
)


def _fdic_city_gate(probe_hits: DataFrame, fdic: DataFrame) -> DataFrame:
    """The reference's FDIC city probe + cert-based HQ selection
    (active_proccess, automation_final2.py:975-1050), one applyInPandas
    group per (probe, matched FDIC name):

    * fit a fresh TF-IDF on the matched FDIC name group's OWN cities and
      probe with the mention city (:976-980); the bank branch proceeds to
      DNB only when that distance accepts (<= 0.2) — on failure the row
      falls to the fdic_state / credit / DNB-fallback branches via the
      priority window (the reference also probes the title-change chain
      there with per-parent geo gates, :1052-1137 — a documented
      divergence: the engine's city-blind parent chase would mis-resolve
      those rows, so FDIC-matched names never enter it; geo-less rows end
      Manual in the reference's parent loop anyway, temp_50=0 :1203-1219);
    * the HQ city comes from the CERT at the matched (argmin) city — the
      single row there, else the unique cert there, else the unique cert
      after the nearest-state disambiguation probe within that city subset
      (:992-1009, 1021-1031); no unique cert → no HQ (:1040-1050). HQ =
      that cert's MAINOFF=1 branch city (:995-996; min() where the
      reference takes frame order).

    This closes documented divergence 2 (round 3 took the deterministic min
    MAINOFF city of the whole name, and ran the DNB hop city-ungated).
    Groups are one FDIC name's branch fan-out — bounded like every other
    matched-name group."""
    from gduns_name_match_spark.functions.similarity import (
        cosine_dist_local,
        fit_idf_local,
    )

    rows = probe_hits.join(
        fdic.select(
            F.col("norm_name").alias("t_norm"),
            F.col("norm_city").alias("f_city"),
            F.col("state").alias("f_state"),
            F.col("fdic_id").alias("cert"),
            "mainoff",
        ),
        "t_norm",
    )
    keys = [*PROBE_KEYS, "t_norm"]

    def kernel(pdf):
        import pandas as pd

        first = pdf.iloc[0]
        m_city = first["m_city_norm"] or ""
        m_state = first["m_state"] or ""
        cities = pdf["f_city"].fillna("").tolist()
        idf = fit_idf_local(cities)
        d = [cosine_dist_local(m_city, c, idf) for c in cities]
        dmin = min(d)
        hq = ""
        accepted = bool(dmin <= THRESHOLD)
        if accepted:
            cstar = min(c for c, di in zip(cities, d) if di == dmin)
            m1 = pdf[pdf["f_city"].fillna("") == cstar]
            certs = m1["cert"].unique()
            if len(m1) == 1 or len(certs) == 1:
                cert = certs[0]
            else:
                states = m1["f_state"].fillna("").tolist()
                sidf = fit_idf_local(states)
                sd = [cosine_dist_local(m_state, s, sidf) for s in states]
                sdmin = min(sd)
                sstar = min(s for s, di in zip(states, sd) if di == sdmin)
                m2 = m1[m1["f_state"].fillna("") == sstar]
                c2 = m2["cert"].unique()
                cert = c2[0] if len(c2) == 1 else None
            if cert is not None:
                hqrows = pdf[(pdf["cert"] == cert) & (pdf["mainoff"] == 1)]
                if len(hqrows):
                    hq = min(hqrows["f_city"].fillna("").tolist())
        return pd.DataFrame(
            [
                {
                    "m_norm": first["m_norm"],
                    "m_city_norm": first["m_city_norm"],
                    "m_state": first["m_state"],
                    "is_corp": bool(first["is_corp"]),
                    "is_cu": bool(first["is_cu"]),
                    "t_norm": first["t_norm"],
                    "active_city_dist": float(dmin),
                    "hq_city": hq,
                    "city_accepted": accepted,
                }
            ]
        )

    return rows.groupBy(*keys).applyInPandas(kernel, _FDIC_GATE_SCHEMA)


_PARENT_GATE_SCHEMA = (
    "m_norm string, m_city_norm string, m_state string, is_corp boolean, "
    "is_cu boolean, t_norm string, pf_name string, state_ok boolean, "
    "accepted boolean, hq_city string, state_dist double"
)


def _parent_geo_gate(rows: DataFrame) -> DataFrame:
    """The reference's per-parent FDIC geo gate — the title-change chain's
    first loop, identical in both paths (automation_final2.py:1076-1137
    city-failed-FDIC path, :1327-1378 no-FDIC-match path): for each candidate
    parent already matched to an FDIC-active name (``pf_name``), one
    applyInPandas group over that name's OWN branch rows:

    * probe the group's STATES with the mention state; the gate requires an
      EXACT hit — cosine distance 0 (:1347 ``if distance==0``); a pass
      increments the reference's ``kre`` counter (feeds the co==0 fallback
      guard, :1143) whether or not the city probe below accepts;
    * subset to the matched state, probe its CITIES with the mention city;
      accept at <= 0.2 (:1357) — accepted parents are the ``co`` count, and
      the DNB hop runs on ``pf_name`` ('final active Name' = the matched
      group's NAME, :1374);
    * HQ = the first cert at the matched city (:1361-1362 frame order —
      deterministic min here), then that cert's MAINOFF=1 branch city iff
      EXACTLY one such row exists in the full name group (:1363-1367).

    Groups are one (probe, parent, FDIC name) branch fan-out — bounded like
    every other matched-name group."""
    from gduns_name_match_spark.functions.similarity import (
        cosine_dist_local,
        fit_idf_local,
    )

    keys = [*PROBE_KEYS, "t_norm", "pf_name"]

    def kernel(pdf):
        import pandas as pd

        first = pdf.iloc[0]
        m_city = first["m_city_norm"] or ""
        m_state = first["m_state"] or ""
        states = pdf["f_state"].fillna("").tolist()
        sidf = fit_idf_local(states)
        sd = [cosine_dist_local(m_state, s, sidf) for s in states]
        sdmin = min(sd)
        state_ok = bool(sdmin <= 1e-12)
        accepted = False
        hq = ""
        if state_ok:
            sstar = min(s for s, d in zip(states, sd) if d == sdmin)
            matc = pdf[pdf["f_state"].fillna("") == sstar]
            cities = matc["f_city"].fillna("").tolist()
            cidf = fit_idf_local(cities)
            cd = [cosine_dist_local(m_city, c, cidf) for c in cities]
            cdmin = min(cd)
            if cdmin <= THRESHOLD:
                accepted = True
                cstar = min(c for c, d in zip(cities, cd) if d == cdmin)
                m34 = matc[matc["f_city"].fillna("") == cstar]
                cert = min(m34["cert"])
                a2 = pdf[pdf["cert"] == cert]
                hqrows = a2[a2["mainoff"] == 1]
                if len(hqrows) == 1:
                    hq = hqrows["f_city"].fillna("").iloc[0]
        return pd.DataFrame(
            [
                {
                    "m_norm": first["m_norm"],
                    "m_city_norm": first["m_city_norm"],
                    "m_state": first["m_state"],
                    "is_corp": bool(first["is_corp"]),
                    "is_cu": bool(first["is_cu"]),
                    "t_norm": first["t_norm"],
                    "pf_name": first["pf_name"],
                    "state_ok": state_ok,
                    "accepted": accepted,
                    "hq_city": hq,
                    # p_c_d (:1088) — the reference stores this STATE-probe
                    # distance under 'parent_city_distance' (quirk kept)
                    "state_dist": float(sdmin),
                }
            ]
        )

    return rows.groupBy(*keys).applyInPandas(kernel, _PARENT_GATE_SCHEMA)


_PARENT_LOC_SCHEMA = (
    "m_norm string, m_city_norm string, m_state string, is_corp boolean, "
    "is_cu boolean, t_norm string, loc_ok boolean, hq_city string, "
    "src string"
)


def _parent_loc_gate(rows: DataFrame) -> DataFrame:
    """The title-change chain's co==0 second loop (automation_final2.py
    :1173-1204 == :1406-1437): per candidate parent, probe the title_change
    registry's OWN rows for (matched events name, parent) — city at <= 0.2,
    argmin-city subset, argmin-state subset; accept iff EXACTLY ONE row
    remains (:1429 ``len(matc24)==1``). An accepted parent's DNB hop runs on
    the PARENT NAME itself ('final active Name' = i, :1434) with HQ = the
    surviving row's PARENT_CITY (:1436); the caller emits only when exactly
    one parent accepts (temp_50==1, :1438)."""
    from gduns_name_match_spark.functions.similarity import (
        cosine_dist_local,
        fit_idf_local,
    )

    keys = [*PROBE_KEYS, "t_norm"]

    def kernel(pdf):
        import pandas as pd

        first = pdf.iloc[0]
        m_city = first["m_city_norm"] or ""
        m_state = first["m_state"] or ""
        cities = pdf["e_city"].fillna("").tolist()
        cidf = fit_idf_local(cities)
        cd = [cosine_dist_local(m_city, c, cidf) for c in cities]
        cdmin = min(cd)
        loc_ok = False
        hq = ""
        src = None
        if cdmin <= THRESHOLD:
            cstar = min(c for c, d in zip(cities, cd) if d == cdmin)
            m23 = pdf[pdf["e_city"].fillna("") == cstar]
            states = m23["e_state"].fillna("").tolist()
            sidf = fit_idf_local(states)
            sd = [cosine_dist_local(m_state, s, sidf) for s in states]
            sdmin = min(sd)
            sstar = min(s for s, d in zip(states, sd) if d == sdmin)
            m24 = m23[m23["e_state"].fillna("") == sstar]
            if len(m24) == 1:
                loc_ok = True
                hq = (m24["e_pcity"].fillna("").iloc[0]) or ""
                # the surviving row's OWN SOURCE rides into SPNV (:1196/:1435
                # — ADVICE r05: SOURCE was hardcoded 'TC' for loc rows)
                src = m24["e_source"].fillna("").iloc[0]
        return pd.DataFrame(
            [
                {
                    "m_norm": first["m_norm"],
                    "m_city_norm": first["m_city_norm"],
                    "m_state": first["m_state"],
                    "is_corp": bool(first["is_corp"]),
                    "is_cu": bool(first["is_cu"]),
                    "t_norm": first["t_norm"],
                    "loc_ok": loc_ok,
                    "hq_city": hq,
                    "src": src,
                }
            ]
        )

    return rows.groupBy(*keys).applyInPandas(kernel, _PARENT_LOC_SCHEMA)


def run_cascade(
    spark: SparkSession,
    mentions: DataFrame,
    regs: Registries,
    threshold: float = THRESHOLD,
    timings: dict | None = None,
) -> DataFrame:
    """mentions: (mention_id, raw_name [, city, state, old_gdun]) →
    one decision row per mention: (mention_id, raw_name, m_norm, route,
    stage, gdun, match_status, best_name, best_dist, list_of_duns,
    old_gdun, match_ind, …audit columns incl. the per-parent gate scalars
    hop_name / parent_active_dist / parent_city_dist / list_parents_fdic /
    list_parents_geo / parent_unique / branch_source — see _AUDIT_TYPES).

    The decision output is localCheckpointed and every frame the cascade
    cached is unpersisted before returning — repeated invocations in a
    long-lived session (driver bench, incremental batches) must not
    accumulate cached registry frames (the MatchResult.release class of
    leak, VERDICT r04 'What's wrong' #1). At a real 100 TB run the output
    would go through plans/checkpoint.py to durable storage instead."""
    # optional per-barrier wall attribution (driver-side perf_counter marks
    # around the plan's MATERIALIZING actions; zero effect on the plan —
    # same contract as match_documents(timings=...))
    import time as _time

    _t = [_time.perf_counter()]

    def _mark(name: str) -> None:
        now = _time.perf_counter()
        if timings is not None:
            timings[name] = round(now - _t[0], 3)
        _t[0] = now

    has_geo = "city" in mentions.columns
    has_old = "old_gdun" in mentions.columns
    # city/state are join keys through the whole cascade — coalesce to ''
    # (SQL NULL keys never compare equal, which would silently drop geo-less
    # mentions from every equi/anti-join)
    m = mentions.select(
        "mention_id",
        "raw_name",
        normalize_name_col(F.col("raw_name")).alias("m_norm"),
        (
            normalize_city_col(F.col("city")) if has_geo else F.lit("")
        ).alias("m_city_norm"),
        F.coalesce(
            F.col("state") if "state" in mentions.columns else F.lit(""), F.lit("")
        ).alias("m_state"),
        is_corporate_routed_col(F.col("raw_name")).alias("is_corp"),
        is_credit_union_col(F.col("raw_name")).alias("is_cu"),
        (F.col("old_gdun") if has_old else F.lit(None)).cast("long").alias("old_gdun"),
    )
    m = impute_state(m, regs.gazetteer).persist()

    # ---- normalized registries
    dnb = regs.dnb.select(
        "duns_num",
        "gl_ult_dun",
        # optional: feeds the 'Multiple GDUNS found,{names}' composition
        *(["gl_ult_nam"] if "gl_ult_nam" in regs.dnb.columns else []),
        normalize_name_col(F.col("company")).alias("norm_name"),
        normalize_city_col(F.col("city")).alias("norm_city"),
        F.col("st"),
    ).persist()

    fdic = _norm_reg(regs.fdic_active, "name").select(
        "fdic_id", "norm_name",
        normalize_city_col(F.col("city")).alias("norm_city"),
        F.col("state"), "mainoff",
    )

    # the title_change registry's own geo columns (CITY/STATE/PARENT_CITY)
    # feed the reference's co==0 second loop (automation_final2.py:1173-1204);
    # registries without them skip that fallback branch
    has_ev_geo = (
        "city" in regs.fdic_events.columns and "state" in regs.fdic_events.columns
    )
    events = regs.fdic_events.select(
        normalize_name_col(F.col("name")).alias("norm_name"),
        normalize_name_col(F.col("parent_name")).alias("parent_norm"),
        "effdate", "source",
        (
            normalize_city_col(F.col("city")) if has_ev_geo else F.lit(None)
        ).cast("string").alias("e_city"),
        (
            F.coalesce(F.col("state"), F.lit("")) if has_ev_geo else F.lit(None)
        ).cast("string").alias("e_state"),
        (
            normalize_city_col(F.col("parent_city"))
            if "parent_city" in regs.fdic_events.columns
            else F.lit(None)
        ).cast("string").alias("e_pcity"),
    )
    # latest event wins per name; ultimate parent via pointer doubling
    name_parents = events.groupBy("norm_name").agg(
        F.max_by("parent_norm", F.struct("effdate", "parent_norm")).alias("parent_norm"),
        F.max_by("source", F.struct("effdate", "parent_norm")).alias("source"),
    ).persist()
    chained = chase_to_root(
        name_parents.select("norm_name", "parent_norm"), "norm_name", "parent_norm"
    ).withColumnRenamed("root_id", "ultimate_parent")
    _mark("chase_to_root")

    # one candidate per DISTINCT parent of each events name, each chased to
    # its ultimate root: the reference's title_change registry carries
    # already-CHAINED parents (the fdic_events refresh rewrites PARENT_NAME
    # to the latest downstream parent, fdic_events.py:379-392), so the
    # engine's per-parent candidate identity is root(parent) — list_1 =
    # matc22.PARENT_NAME.unique() (automation_final2.py:1057-1060)
    parents_all = events.filter(F.col("parent_norm") != "").select(
        F.col("norm_name").alias("ev_name"), "parent_norm"
    ).distinct()
    par_root = parents_all.join(
        chained.select(
            F.col("norm_name").alias("parent_norm"),
            F.col("ultimate_parent").alias("p_root"),
        ),
        "parent_norm", "left",
    ).select(
        "ev_name", "parent_norm",
        F.coalesce("p_root", "parent_norm").alias("t_norm"),
    )

    cu = _norm_reg(regs.cu_active, "name").select("ncua_id", "norm_name")
    cu_mna = (
        regs.cu_mna.select(
            normalize_name_col(F.col("name")).alias("norm_name"),
            normalize_name_col(F.col("parent_name")).alias("parent_norm"),
        )
        if regs.cu_mna is not None
        else None
    )
    cu_closed = (
        regs.cu_closed.select(normalize_name_col(F.col("name")).alias("norm_name"))
        if regs.cu_closed is not None
        else None
    )

    # ---- PASS 1: mentions vs the union of all registry names, one job
    def _tagged(df: DataFrame | None, tag: str) -> DataFrame | None:
        if df is None:
            return None
        return (
            df.select(F.col("norm_name").alias("r_norm"))
            .dropDuplicates(["r_norm"])
            .withColumn("tag", F.lit(tag))
        )

    tag_frames = [
        _tagged(dnb, "dnb"),
        _tagged(fdic, "fdic"),
        _tagged(events, "events"),
        _tagged(cu, "cu"),
        _tagged(cu_mna, "cu_mna"),
        _tagged(cu_closed, "cu_closed"),
    ]
    reg_names = None
    for tf in tag_frames:
        if tf is None:
            continue
        reg_names = tf if reg_names is None else reg_names.unionByName(tf)
    reg_names = reg_names.persist()
    all_names = reg_names.select("r_norm").distinct()

    # DNB-target names (the second hop of every branch) — mention-INDEPENDENT
    target_frames = [
        cu.select(F.col("norm_name").alias("t_norm")) if cu is not None else None,
        cu_mna.select(F.col("parent_norm").alias("t_norm")) if cu_mna is not None else None,
        fdic.select(F.col("norm_name").alias("t_norm")),
        chained.select(F.col("ultimate_parent").alias("t_norm")),
        name_parents.select(F.col("norm_name").alias("t_norm")),
        # EVERY per-parent candidate root (ADVICE r05 medium): `chained`
        # only covers roots of each name's LATEST parent — a multi-parent
        # event name's non-latest parent that is neither an events child nor
        # an FDIC/CU name would otherwise lose its DNB score to the best2
        # semi-join and decide Manual where the reference DNB-probes it
        par_root.select("t_norm"),
    ]
    targets = None
    for tf in target_frames:
        if tf is None:
            continue
        targets = tf if targets is None else targets.unionByName(tf)
    targets = targets.filter(F.col("t_norm") != "").distinct().persist()

    # per-registry smooth-IDF tables, ONE tagged aggregation pass over the
    # NON-distinct name columns — the reference fits one TfidfVectorizer per
    # registry table, duplicates included (create_KNN(dnb['NAME']) etc.,
    # automation_final2.py:400-407). Round 3 scored everything under a
    # single union-wide IDF (documented divergence 1); a registry whose
    # vocabulary is degenerate vs the union (every CU sharing
    # 'federalcreditunion' grams) ranks differently near the 0.2 threshold
    # — closed by scoring each (probe, name, registry) row under ITS
    # registry's weights (tests/test_cascade.py adversarial fixture).
    idf_frames = [
        dnb.select(F.lit("dnb").alias("tag"), "norm_name"),
        fdic.select(F.lit("fdic").alias("tag"), "norm_name"),
        events.select(F.lit("events").alias("tag"), "norm_name"),
        cu.select(F.lit("cu").alias("tag"), "norm_name"),
    ]
    if cu_mna is not None:
        idf_frames.append(cu_mna.select(F.lit("cu_mna").alias("tag"), "norm_name"))
    if cu_closed is not None:
        idf_frames.append(
            cu_closed.select(F.lit("cu_closed").alias("tag"), "norm_name")
        )
    tagged_idf_input = idf_frames[0]
    for fr in idf_frames[1:]:
        tagged_idf_input = tagged_idf_input.unionByName(fr)
    idfs = build_idf_by_tag(tagged_idf_input)
    _mark("idf_by_tag")

    # BOTH passes in ONE scoring job: probes = mentions ∪ targets ∪ parent
    # candidates. The per-(probe, tag) argmin aggregate serves pass 1
    # (mention → each registry's best), pass 2 (target → best DNB name) and
    # the per-parent FDIC probes (parent root → best FDIC name, reference
    # :1328-1334) from the same accepted set. Names carry their registry-
    # membership tags as an ARRAY through the blocking join (no post-hoc tag
    # join = no extra pair-stream shuffle); the pair explodes per tag and
    # each row scores under its registry's IDF — but only the tags the probe
    # actually CONSUMES: a mention decides under every registry, a DNB
    # target only ever reads its 'dnb' row, a parent candidate its 'dnb' +
    # 'fdic' rows. Round 4 scored every probe under every tag and discarded
    # the (target × non-dnb-tag) rows unread — wasted Arrow-kernel volume
    # proportional to |targets| × avg non-dnb fan-out (VERDICT r04 task 1a).
    _all_tags = F.array(
        *[F.lit(tg) for tg, fr in (
            ("dnb", dnb), ("fdic", fdic), ("events", events), ("cu", cu),
            ("cu_mna", cu_mna), ("cu_closed", cu_closed),
        ) if fr is not None]
    )
    probes = (
        m.select("m_norm").distinct().withColumn("ptags", _all_tags)
        .unionByName(
            targets.select(
                F.col("t_norm").alias("m_norm"),
                F.array(F.lit("dnb")).alias("ptags"),
            )
        )
        .unionByName(
            # parent candidates score under 'dnb' (their DNB hop), 'fdic'
            # (the per-parent geo gate's FDIC probe) and 'cu' (the path-B
            # lone-parent CU-active re-probe, :1285-1313)
            par_root.select(
                F.col("t_norm").alias("m_norm"),
                F.array(F.lit("dnb"), F.lit("fdic"), F.lit("cu")).alias("ptags"),
            ).distinct()
        )
        .groupBy("m_norm")
        .agg(
            F.array_distinct(F.flatten(F.collect_list("ptags"))).alias("ptags")
        )
    )
    names_tagged = reg_names.groupBy("r_norm").agg(
        F.sort_array(F.collect_set("tag")).alias("tags")
    )
    blocking = candidate_pairs(
        with_block_keys(probes, "m_norm"),
        with_block_keys(names_tagged, "r_norm"),
        probe_id="m_norm",
        registry_id="r_norm",
        n_salt=4,
    )
    tagged_pairs = (
        blocking.pairs.withColumn("tag", F.explode("tags"))
        # the consumed-tags prefilter: BEFORE the exchange and the Python
        # kernel, so the dropped rows are never shuffled or scored
        .filter(F.array_contains(F.col("ptags"), F.col("tag")))
        .drop("ptags", "tags")
    )
    scored = score_pairs(tagged_pairs, make_scorer(spark, idfs), tag_col="tag")
    best_by_tag = (
        best_match_per_probe(scored, ["m_norm", "tag"], threshold=threshold)
        .select("m_norm", "tag", F.col("r_norm").alias("best_name"),
                F.col("cos_dist").alias("best_dist"))
        .localCheckpoint()
    )
    _mark("pass1_score")
    # the checkpoint above materialized the accepted pairs — the blocking
    # caches behind them are dead weight from here on
    blocking.release()
    best1 = best_by_tag.join(m.select("m_norm").distinct(), "m_norm", "left_semi")

    # per-mention per-registry best distances, pivoted wide — these become the
    # SPNV audit columns (ACTIVE_NAME_DISTANCE, INACTIVE_TITLE_DISTANCE,
    # CREDIT_UNION_*_DIST; reference automation_final2.py:1508-1521). best1
    # has at most one row per (m_norm, tag), so min() just extracts it.
    _TAG_DIAG = {
        "fdic": "active_name_dist",
        "events": "inactive_title_dist",
        "cu": "cu_active_dist",
        "cu_mna": "cu_mna_dist",
        "cu_closed": "cu_closed_dist",
    }
    diag = best1.groupBy("m_norm").agg(
        *[
            F.min(F.when(F.col("tag") == tag, F.col("best_dist"))).alias(col)
            for tag, col in _TAG_DIAG.items()
        ]
    )

    def tag_best(tag: str) -> DataFrame:
        return best1.filter(F.col("tag") == tag).drop("tag")

    best2 = (
        best_by_tag.filter(F.col("tag") == "dnb")
        .join(
            targets.withColumnRenamed("t_norm", "m_norm"), "m_norm", "left_semi"
        )
        .select(
            F.col("m_norm").alias("t_norm"),
            F.col("best_name").alias("dnb_name"),
            F.col("best_dist").alias("dnb_dist"),
        )
    )

    # ---- branch assembly (pure joins; a branch row exists iff the branch's
    # match chain succeeded — the priority window below replaces round 1's
    # per-branch anti-joins)
    mb = m.select(*PROBE_KEYS).distinct().persist()
    corp_mb = mb.filter(F.col("is_corp"))
    # EVERY stream-1 mention tries the FDIC/events branches (reference
    # spnv_check → active_proccess); only CU-suffixed ones are eligible for
    # the credit_proccess fallback branches
    noncorp_mb = mb.filter(~F.col("is_corp"))
    bank_mb = noncorp_mb
    cu_mb = noncorp_mb.filter(F.col("is_cu"))

    empty_hq = F.lit("").alias("hq_city")
    no_acd = F.lit(None).cast("double").alias("active_city_dist")
    no_parent = F.lit(None).cast("string").alias("parent_norm")

    def _dnb_branch(base: DataFrame, first_hop: DataFrame, stage: str) -> DataFrame:
        """base ⋈ first_hop(m_norm → t_norm) ⋈ best2 → branch rows carrying
        the DNB name to decide on. LEFT join on best2: a branch whose first
        hop matched but whose DNB probe found nothing is still TERMINAL in
        the reference (dnb_proccess dist > 0.2 → Manual, :658-675) — the row
        must NOT fall through to a lower-priority branch, so it rides the
        priority window as a dnb_name=NULL row that decides Manual."""
        hop = base.join(first_hop, "m_norm")
        hop = hop.join(best2, "t_norm", "left")
        return hop.select(
            *PROBE_KEYS,
            F.lit(stage).alias("stage"),
            F.col("dnb_name"),
            F.col("dnb_dist"),
            empty_hq,
            no_acd,
            no_parent,
            # hop_name = the matched first-hop name (the reference's
            # Credit_final_parent / active_credit_name for the CU branches)
            *_audit(hop=F.col("t_norm")),
        )

    branches = []

    # corporate / fallback: the DNB target IS the mention's own name
    self_hop_corp = tag_best("dnb").select(
        "m_norm", F.col("best_name").alias("dnb_name"), F.col("best_dist").alias("dnb_dist")
    )
    branches.append(
        corp_mb.join(self_hop_corp, "m_norm").select(
            *PROBE_KEYS, F.lit("dnb_corporate").alias("stage"),
            "dnb_name", "dnb_dist", empty_hq, no_acd, no_parent,
            *_audit(),
        )
    )
    branches.append(
        noncorp_mb.join(self_hop_corp, "m_norm").select(
            *PROBE_KEYS, F.lit("dnb_fallback").alias("stage"),
            "dnb_name", "dnb_dist", empty_hq, no_acd, no_parent,
            *_audit(),
        )
    )

    # credit-union chain
    cu_hop = tag_best("cu").select("m_norm", F.col("best_name").alias("t_norm"))
    branches.append(_dnb_branch(cu_mb, cu_hop, "cu_active"))
    if cu_mna is not None:
        mna_hop = (
            tag_best("cu_mna")
            .join(cu_mna.withColumnRenamed("norm_name", "best_name"), "best_name")
            .select("m_norm", F.col("parent_norm").alias("t_norm"))
        )
        branches.append(_dnb_branch(cu_mb, mna_hop, "cu_mna"))

    # bank chain: the FDIC city probe gates entry to DNB and selects the
    # cert whose MAINOFF=1 city becomes the HQ tie-break (reference
    # active_proccess :975-1050; see _fdic_city_gate)
    fdic_hop = tag_best("fdic").select("m_norm", F.col("best_name").alias("t_norm"))
    # persisted: the gate output feeds BOTH the fdic_active branch (city
    # accepted) and the fdic_state fallback (city failed) — without it the
    # applyInPandas kernel and its probe x FDIC-branch join execute twice
    fdic_gate = _fdic_city_gate(bank_mb.join(fdic_hop, "m_norm"), fdic).persist()
    branches.append(
        fdic_gate.filter(F.col("city_accepted"))
        .join(best2, "t_norm", "left")
        .select(
            *PROBE_KEYS, F.lit("fdic_active").alias("stage"),
            "dnb_name", "dnb_dist",
            F.coalesce("hq_city", F.lit("")).alias("hq_city"),
            F.col("active_city_dist"),
            no_parent,
            # 'active_name' / 'final active Name' = the matched FDIC name
            *_audit(hop=F.col("t_norm")),
        )
    )

    # ---- title-change chain membership + per-parent geo gates (reference
    # parity, closes the round-4 documented divergence). Two entry paths:
    # path A = FDIC-active matched but its city gate FAILED (:1049 else →
    # :1055 title probe), path B = no FDIC-active match at all (:1243 else →
    # :1244 title probe). City-ACCEPTED probes never enter the chain.
    ev_hit = tag_best("events").select(
        "m_norm",
        F.col("best_name").alias("change_name"),
        F.col("best_dist").alias("ev_dist"),
    )
    path_a = fdic_gate.filter(~F.col("city_accepted")).select(*PROBE_KEYS)
    path_b = bank_mb.join(
        fdic_hop.select("m_norm").distinct(), "m_norm", "left_anti"
    )
    chain_base = (
        path_a.withColumn("path_a", F.lit(True))
        .unionByName(path_b.withColumn("path_a", F.lit(False)))
        .join(ev_hit, "m_norm")
    )
    # one candidate per DISTINCT chained parent (list_1, :1057-1060); the
    # per-probe parent count drives the path-B single-parent special case
    chain_parents = chain_base.join(
        par_root.select(
            F.col("ev_name").alias("change_name"), "t_norm"
        ).distinct(),
        "change_name",
    ).withColumn(
        "n_parents",
        F.size(F.collect_set("t_norm").over(Window.partitionBy(*PROBE_KEYS))),
    )
    # each parent's own FDIC-active probe (pass-1 'fdic' rows for the parent
    # candidates — they were scored under the 'fdic' tag exactly for this)
    pf = best_by_tag.filter(F.col("tag") == "fdic").select(
        F.col("m_norm").alias("t_norm"),
        F.col("best_name").alias("pf_name"),
        # p_ac_dis (:1076) — threaded into PARENT_NAME_DISTANCE
        F.col("best_dist").alias("pf_dist"),
    )
    cp = chain_parents.join(pf, "t_norm", "left")
    # the chain-candidate frame feeds ~10 consumers (loop_rows → gate/loc/
    # manual/x, single_b → 2 branches, lone_cu → 2 branches, n_per_probe →
    # 5 joins); without a cache each consumer re-executes the window-counted
    # join subtree inside the one decision job (VERDICT r05 'what's wrong'
    # #2). persist (lazy, no extra barrier job) over localCheckpoint (eager
    # barrier) per the round-6 A/B — see BENCH.md
    cp = cp.persist()
    # the gated first loop runs for path A always and path B with >1 parent
    # (path B's single parent takes the UNGATED special block, :1255-1281)
    loop_rows = cp.filter(F.col("path_a") | (F.col("n_parents") > 1))
    gate_in = loop_rows.filter(F.col("pf_name").isNotNull()).join(
        fdic.select(
            F.col("norm_name").alias("pf_name"),
            F.col("norm_city").alias("f_city"),
            F.col("state").alias("f_state"),
            F.col("fdic_id").alias("cert"),
            "mainoff",
        ),
        "pf_name",
    )
    # persisted: feeds the title_change branch (accepted parents), the
    # fdic_state kre==0 guard, and nothing else — released with the rest
    pgate = _parent_geo_gate(
        gate_in.select(*PROBE_KEYS, "t_norm", "pf_name", "f_city", "f_state",
                       "cert", "mainoff")
    ).persist()

    # ---- per-probe chain audit scalars (reference x / parent_unique_count,
    # :1063-1077): n_parents is constant per probe; x is the full candidate
    # list in the engine's deterministic (sorted) loop order — the
    # reference's is list_1 frame order, a documented frame-order stand-in
    n_per_probe = cp.groupBy(*PROBE_KEYS).agg(F.max("n_parents").alias("_np"))
    _pu = F.when(F.col("_np") == 1, 1).otherwise(0).cast("long")
    # NULL-preserving variant for branches a probe reaches with OR without
    # having entered the chain (fdic_state): off-chain rows keep NULL
    _pu_opt = (
        F.when(F.col("_np") == 1, 1)
        .when(F.col("_np").isNotNull(), 0)
        .cast("long")
    )
    x_per_probe = loop_rows.groupBy(*PROBE_KEYS).agg(
        F.concat_ws(",", F.sort_array(F.collect_set("t_norm"))).alias("x_join")
    )
    # the (events name, parent-root) pair's SOURCE — latest-event-wins, the
    # engine's deterministic stand-in for the reference's per-iteration
    # frame-order overwrite (:1080; fixture-bound in test_cascade)
    root_src = (
        events.filter(F.col("parent_norm") != "")
        .join(
            par_root.select(
                F.col("ev_name").alias("norm_name"), "parent_norm", "t_norm"
            ),
            ["norm_name", "parent_norm"],
        )
        .groupBy(F.col("norm_name").alias("change_name"), "t_norm")
        .agg(
            F.max_by("source", F.struct("effdate", "source")).alias(
                "pair_source"
            )
        )
    )
    chain_meta = chain_base.select(*PROBE_KEYS, "change_name").distinct()

    # state-equality fallback of the city-failed FDIC path (reference
    # :1140-1155 and :1221-1231, Comments 'Fdic name and state matching and
    # unique ID'): the matched FDIC name has ONE cert and a row whose state
    # equals the mention state → DNB on the FDIC name; HQ = the name's
    # MAINOFF=1 city when exactly one exists (:1148-1149). GUARDED on kre==0
    # (:1142 — a parent that passed the state-exact gate but failed the city
    # probe forecloses this fallback; title-miss probes never ran the loop,
    # so kre=0 holds for them trivially, matching :1221)
    kre_pos = pgate.filter(F.col("state_ok")).select(*PROBE_KEYS).distinct()
    fdic_meta = fdic.groupBy(F.col("norm_name").alias("t_norm")).agg(
        F.count_distinct("fdic_id").alias("n_certs"),
        F.sort_array(
            F.collect_set(F.when(F.col("mainoff") == 1, F.col("norm_city")))
        ).alias("_hqs"),
    )
    fdic_states = fdic.select(
        F.col("norm_name").alias("fs_t"), F.col("state").alias("f_state")
    ).distinct()
    state_base = (
        fdic_gate.filter(~F.col("city_accepted"))
        .join(fdic_meta.filter(F.col("n_certs") == 1), "t_norm")
        .join(
            fdic_states,
            (F.col("fs_t") == F.col("t_norm"))
            & (F.col("f_state") == F.col("m_state")),
            "left_semi",
        )
        .join(kre_pos, PROBE_KEYS, "left_anti")
    )
    branches.append(
        state_base.join(best2, "t_norm", "left")
        .join(n_per_probe, PROBE_KEYS, "left")
        .select(
            *PROBE_KEYS, F.lit("fdic_state").alias("stage"),
            "dnb_name", "dnb_dist",
            F.when(F.size("_hqs") == 1, F.get("_hqs", 0))
            .otherwise(F.lit(""))
            .alias("hq_city"),
            F.col("active_city_dist"),
            no_parent,
            # a chain-derived row carries parent_unique_count (:1063 set
            # before the kre==0 fallback, :1143); a title-miss row (:1221)
            # never had it — _pu_opt keeps those NULL
            *_audit(hop=F.col("t_norm"), pu=_pu_opt),
        )
    )

    # ---- title_change: one branch row per GEO-ACCEPTED parent (reference
    # list_of_vari, :1090-1137 / :1357-1378); the DNB hop runs on the
    # parent's matched FDIC-ACTIVE name ('final active Name' = the matched
    # group's NAME, :1374), NOT the parent name. co==1 resolves singly;
    # co>1 keeps all rows and the priority window marks them TEMP2='Y' for
    # the -45000 collapse — counting city-ACCEPTED parents, not all
    # distinct parents (the round-4 documented divergence, closed).
    best2_pf = best2.withColumnRenamed("t_norm", "pf_name")
    # y (:1106): the accepted-parents-so-far list at each row's emission —
    # the reference appends per iteration and never rewrites it after the
    # loop (unlike x), so each emitted row keeps its partial prefix
    w_y = (
        Window.partitionBy(*PROBE_KEYS)
        .orderBy("t_norm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tc_acc = (
        pgate.filter(F.col("accepted"))
        .withColumn(
            "y_partial",
            F.concat(
                F.lit(","),
                F.concat_ws(",", F.collect_list("t_norm").over(w_y)),
            ),
        )
        .join(pf.select("t_norm", "pf_dist"), "t_norm", "left")
        .join(x_per_probe, PROBE_KEYS, "left")
        .join(n_per_probe, PROBE_KEYS, "left")
        .join(chain_meta, PROBE_KEYS, "left")
        .join(root_src, ["change_name", "t_norm"], "left")
    )
    branches.append(
        tc_acc.join(best2_pf, "pf_name", "left")
        .select(
            *PROBE_KEYS, F.lit("title_change").alias("stage"),
            "dnb_name", "dnb_dist",
            F.coalesce("hq_city", F.lit("")).alias("hq_city"),
            no_acd,
            F.col("t_norm").alias("parent_norm"),
            *_audit(
                hop=F.col("pf_name"),
                pad=F.col("pf_dist"),
                pcd=F.col("state_dist"),
                # co>0 rows keep the reference's unstripped leading comma
                # (the :1132 overwrite uses raw x; only the co==0 paths
                # strip it, :1172)
                lpf=F.concat(F.lit(","), F.col("x_join")),
                lpg=F.col("y_partial"),
                pu=_pu,
                bsrc=F.coalesce(F.col("pair_source"), F.lit("")),
            ),
        )
    )

    # path-B single-parent special block (:1255-1281): the lone parent is
    # probed against FDIC-active but NOT geo-gated; on acceptance the
    # (events name, parent) pair's source is LQ-checked (matc22['SOURCE'][0]
    # — latest-event-wins here, the engine's deterministic stand-in for
    # frame order), then the DNB hop runs on the PARENT NAME ITSELF
    # (dnb_proccess(row,'final_title'), :1279) with HQ = the parent's
    # matched FDIC name's MAINOFF=1 city iff exactly one such row
    # (:1262-1263). A lone parent with NO FDIC-active match falls through to
    # the credit/DNB fallbacks (documented residual divergence: the
    # reference probes the PARENT against CU-active there, :1283-1313; the
    # engine's CU branches probe the mention).
    pf_hq = fdic.groupBy(F.col("norm_name").alias("pf_name")).agg(
        F.sum(F.when(F.col("mainoff") == 1, 1).otherwise(0)).alias("n_main"),
        F.min(F.when(F.col("mainoff") == 1, F.col("norm_city"))).alias(
            "main_city"
        ),
    )
    single_b = (
        cp.filter(
            ~F.col("path_a")
            & (F.col("n_parents") == 1)
            & F.col("pf_name").isNotNull()
        )
        .join(root_src, ["change_name", "t_norm"], "left")
        # the pair always exists (parents derive from the same events rows);
        # coalesce so a NULL can never silently drop the row from BOTH the
        # LQ and the DNB sub-branch
        .withColumn(
            "pair_source", F.coalesce(F.col("pair_source"), F.lit(""))
        )
    )
    branches.append(
        single_b.filter(~F.col("pair_source").endswith("LQ"))
        .join(pf_hq, "pf_name", "left")
        .join(best2, "t_norm", "left")
        .select(
            *PROBE_KEYS, F.lit("title_change").alias("stage"),
            "dnb_name", "dnb_dist",
            F.when(F.col("n_main") == 1, F.col("main_city"))
            .otherwise(F.lit(""))
            .alias("hq_city"),
            no_acd,
            F.col("t_norm").alias("parent_norm"),
            # :1276-1278: final_title / 'final active Name' /
            # list_of_parents_from_fdic are all the lone parent itself.
            # Parent_active_distance stays NULL by PARITY: the reference's
            # lone-parent special block (:1255-1277) never assigns it — only
            # the per-parent loop does (:1115) — even though the FDIC-probe
            # distance is computed at :1257 and discarded
            *_audit(
                hop=F.col("t_norm"),
                lpf=F.col("t_norm"),
                pu=F.lit(1).cast("long"),
                bsrc=F.col("pair_source"),
            ),
        )
    )

    # path-B lone parent with NO FDIC-active match (:1283-1316, VERDICT r05
    # task 1 — closes the last documented behavioral divergence): the
    # reference re-probes the PARENT, never the mention. A CU-suffixed
    # original name probes the parent against CU-active; on acceptance the
    # decision is dnb_c on the MATCHED CU NAME (state tie-break — both
    # ID_NCUA branches of :1295-1313 are verbatim-identical, so no gate),
    # SOURCE='CREDITUNION_ACTIVE'. A CU-probe miss goes straight to
    # dnb_proccess on the MENTION name (:1314-1316) — returning from inside
    # the chain, so the mention's own cu_mna/cu_closed hits never fire.
    # Non-CU-suffixed rows take credit_proccess(NAME) (:1318), whose non-CU
    # gate is exactly the engine's dnb_fallback fall-through.
    lone_nofdic = cp.filter(
        ~F.col("path_a")
        & (F.col("n_parents") == 1)
        & F.col("pf_name").isNull()
    )
    pcu = best_by_tag.filter(F.col("tag") == "cu").select(
        F.col("m_norm").alias("t_norm"),
        F.col("best_name").alias("cu_name"),
    )
    lone_cu = lone_nofdic.filter(F.col("is_cu")).join(pcu, "t_norm", "left")
    branches.append(
        lone_cu.filter(F.col("cu_name").isNotNull())
        .join(best2.withColumnRenamed("t_norm", "cu_name"), "cu_name", "left")
        .select(
            *PROBE_KEYS, F.lit("title_cu").alias("stage"),
            "dnb_name", "dnb_dist", empty_hq, no_acd,
            F.col("t_norm").alias("parent_norm"),
            # active_credit_name / Credit_final_parent = the matched CU name
            *_audit(hop=F.col("cu_name"), pu=F.lit(1).cast("long")),
        )
    )
    branches.append(
        lone_cu.filter(F.col("cu_name").isNull())
        .join(self_hop_corp, "m_norm", "left")
        .select(
            *PROBE_KEYS, F.lit("title_dnb").alias("stage"),
            "dnb_name", "dnb_dist", empty_hq, no_acd,
            F.col("t_norm").alias("parent_norm"),
            *_audit(pu=F.lit(1).cast("long")),
        )
    )

    # co==0 second loop (:1173-1204): the title_change registry's own
    # city/state rows decide; exactly one surviving parent → DNB on the
    # parent name with HQ = PARENT_CITY. Needs the registry geo columns.
    if has_ev_geo:
        ev_loc = (
            events.filter(F.col("parent_norm") != "")
            .join(
                par_root.select(
                    F.col("ev_name").alias("norm_name"), "parent_norm",
                    "t_norm",
                ),
                ["norm_name", "parent_norm"],
            )
            .select(
                F.col("norm_name").alias("change_name"), "t_norm",
                "e_city", "e_state", "e_pcity",
                F.col("source").alias("e_source"),
            )
        )
        loc_in = loop_rows.select(
            *PROBE_KEYS, "change_name", "t_norm"
        ).join(ev_loc, ["change_name", "t_norm"])
        ploc = _parent_loc_gate(
            loc_in.select(*PROBE_KEYS, "t_norm", "e_city", "e_state",
                          "e_pcity", "e_source")
        )
        w_keys = Window.partitionBy(*PROBE_KEYS)
        loc_one = (
            ploc.filter(F.col("loc_ok"))
            .withColumn("t50", F.count("*").over(w_keys))
            .filter(F.col("t50") == 1)
        )
        branches.append(
            loc_one.join(best2, "t_norm", "left")
            .join(x_per_probe, PROBE_KEYS, "left")
            .join(n_per_probe, PROBE_KEYS, "left")
            .select(
                *PROBE_KEYS, F.lit("title_change_loc").alias("stage"),
                "dnb_name", "dnb_dist",
                F.coalesce("hq_city", F.lit("")).alias("hq_city"),
                no_acd,
                F.col("t_norm").alias("parent_norm"),
                # co==0 rows carry the STRIPPED x (:1172) and an empty y
                # (:1192 assigns y, which never grew)
                *_audit(
                    hop=F.col("t_norm"),
                    lpf=F.col("x_join"),
                    lpg=F.lit(""),
                    pu=_pu,
                    bsrc=F.col("src"),
                ),
            )
        )

    # path-A chain probes whose every fallback failed end MANUAL inside the
    # branch (:1203-1219 'Bank with similar name in active and inactive but
    # locations of either is not matching') — a dnb_name=NULL row at this
    # rank decides Manual-terminal, so the row never reaches the CU/DNB
    # fallbacks. Path B's co==0 falls through to credit_proccess (:1443),
    # and a path-A probe with NO parents never ran the loop (list_1 empty →
    # credit_proccess, :1060-1062) — so only path-A probes WITH parent
    # candidates emit here.
    branches.append(
        loop_rows.filter(F.col("path_a"))
        .select(*PROBE_KEYS)
        .distinct()
        .join(x_per_probe, PROBE_KEYS, "left")
        .join(n_per_probe, PROBE_KEYS, "left")
        .select(
            *PROBE_KEYS, F.lit("title_manual").alias("stage"),
            F.lit(None).cast("string").alias("dnb_name"),
            F.lit(None).cast("double").alias("dnb_dist"),
            empty_hq, no_acd, no_parent,
            # the Manual return keeps the stripped x assigned at :1156-1158
            *_audit(lpf=F.col("x_join"), pu=_pu),
        )
    )

    # terminal (no-DNB) branches: liquidations
    terminals = []
    if cu_closed is not None:
        closed_hit = cu_mb.join(tag_best("cu_closed"), "m_norm")
        terminals.append(
            closed_hit.select(
                *PROBE_KEYS, F.lit("cu_closed").alias("stage"),
                "best_name", "best_dist",
                *_audit(),
            )
        )
    # BANK Liquidates (:1157-1170): fires only on path A's co==0 fall-through
    # — path B zeroes SOURCE before the check (:1396-1397), its lone-parent
    # LQ case is handled in the single-parent block above. Ranked BELOW
    # fdic_state per the reference order (:1143 before :1157), ABOVE the
    # second loop (:1171).
    lq_hit = path_a.join(
        ev_hit.join(
            name_parents.filter(F.col("source").endswith("LQ")).select(
                F.col("norm_name").alias("change_name"),
                # the SPNV SOURCE for an LQ row is the triggering parent's
                # own source code (the -21000 return never rewrites it)
                F.col("source").alias("lq_source"),
            ),
            "change_name",
        ),
        "m_norm",
    )
    terminals.append(
        lq_hit.join(x_per_probe, PROBE_KEYS, "left")
        .join(n_per_probe, PROBE_KEYS, "left")
        .select(
            *PROBE_KEYS, F.lit("title_change_lq").alias("stage"),
            F.col("change_name").alias("best_name"),
            F.col("ev_dist").alias("best_dist"),
            # :1157-1158 strips x before the LQ return
            *_audit(lpf=F.col("x_join"), pu=_pu_opt,
                    bsrc=F.col("lq_source")),
        )
    )
    # path-B single parent whose (events name, parent) source is LQ →
    # closed entity (:1265-1275)
    terminals.append(
        single_b.filter(F.col("pair_source").endswith("LQ")).select(
            *PROBE_KEYS, F.lit("title_change_lq").alias("stage"),
            F.col("change_name").alias("best_name"),
            F.col("ev_dist").alias("best_dist"),
            *_audit(pu=F.lit(1).cast("long"), bsrc=F.col("pair_source")),
        )
    )

    dnb_branches = branches[0]
    for b in branches[1:]:
        dnb_branches = dnb_branches.unionByName(b)
    # each probe decides under ITS branch's reference function: CU branches
    # came through dnb_c_proccess (STATE rung), everything else through
    # dnb_proccess (CITY + HQ rungs) — automation_final2.py:855-908 vs
    # :957-961,1003,1124
    dnb_branches = dnb_branches.withColumn(
        "geo_mode",
        # title_cu resolves through dnb_c_proccess like the CU branches
        # (:1303/:1311 dnb_c on active_credit_name → STATE rung)
        F.when(
            F.col("stage").isin("cu_active", "cu_mna", "title_cu"), "state"
        ).otherwise("city"),
    )
    # barrier (VERDICT r06 task 1a A/B vs lazy persists, see BENCH.md): the
    # checkpoint truncates the plan the decision and assembly jobs build on
    dnb_branches = dnb_branches.localCheckpoint()
    _mark("branches_checkpoint")

    # ---- terminal GDUN decision, ONCE per distinct (dnb_name, geo, hq, mode)
    SEP = "\u0001"  # cannot appear in normalized (lowercase-alnum) values
    hit = dnb_branches.filter(F.col("dnb_name").isNotNull())
    miss = dnb_branches.filter(F.col("dnb_name").isNull())
    dec_in = (
        hit.select(
            F.col("dnb_name").alias("best_name"),
            F.col("m_city_norm").alias("m_city"),
            F.col("m_state"),
            F.col("hq_city"),
            F.col("geo_mode"),
        )
        .distinct()
        .withColumn(
            "probe_key",
            F.concat_ws(
                SEP, "best_name", "m_city", "m_state", "hq_city", "geo_mode"
            ),
        )
        .withColumn("best_dist", F.lit(None).cast("double"))
    )
    _DEC_COLS = [
        "gdun", "match_status", "rung", "fj_duns", "list_of_duns",
        "min_city_dist", "n_duns", "min_duns", "list_of_gduns",
        "list_of_gdun_names", "refit_capped",
    ]
    # group_refit: the city/HQ tie-break re-fits a fresh TF-IDF on each
    # matched group's own cities (reference-exact V5 semantics) — and saves
    # the registry-wide city-IDF build job the previous divergence needed
    decided = resolve_gdun(
        dec_in, dnb,
        probe_id="probe_key",
        probe_city="m_city",
        probe_state="m_state",
        probe_hq="hq_city",
        group_refit=True,
        mode_col="geo_mode",
    ).select("probe_key", *_DEC_COLS)
    decided = decided.localCheckpoint()
    _mark("decide_checkpoint")

    resolved = (
        hit.withColumn(
            "probe_key",
            F.concat_ws(
                SEP, "dnb_name", "m_city_norm", "m_state", "hq_city", "geo_mode"
            ),
        )
        .join(decided, "probe_key")
        .select(
            *PROBE_KEYS, "stage", "gdun", "match_status", "rung", "fj_duns",
            F.col("dnb_name").alias("best_name"),
            F.col("dnb_dist").alias("best_dist"),
            "list_of_duns",
            "min_city_dist", "n_duns", "min_duns", "list_of_gduns",
            "list_of_gdun_names", "refit_capped", "active_city_dist",
            "parent_norm", *_AUDIT_NAMES,
        )
    )
    # DNB-hop misses: Manual-terminal at their branch's priority (reference
    # dnb_proccess/dnb_c_proccess dist > 0.2 -> Manual, DUNS_count=-1,
    # dun_num=-1, automation_final2.py:658-675,815-827)
    resolved = resolved.unionByName(
        miss.select(
            *PROBE_KEYS, "stage",
            F.lit(GDUN_MANUAL).cast("long").alias("gdun"),
            F.lit("manual").alias("match_status"),
            F.lit("manual").alias("rung"),
            F.lit(-1).cast("long").alias("fj_duns"),
            F.lit(None).cast("string").alias("best_name"),
            F.lit(None).cast("double").alias("best_dist"),
            F.array().cast("array<long>").alias("list_of_duns"),
            F.lit(None).cast("double").alias("min_city_dist"),
            F.lit(-1).cast("long").alias("n_duns"),
            F.lit(None).cast("long").alias("min_duns"),
            F.array().cast("array<long>").alias("list_of_gduns"),
            F.array().cast("array<string>").alias("list_of_gdun_names"),
            F.lit(False).alias("refit_capped"),
            F.col("active_city_dist"),
            F.col("parent_norm"),
            *_AUDIT_NAMES,
        )
    )
    for t in terminals:
        resolved = resolved.unionByName(
            t.select(
                *PROBE_KEYS, "stage",
                F.lit(GDUN_LIQUIDATED).cast("long").alias("gdun"),
                F.lit("liquidated").alias("match_status"),
                F.lit("liquidated").alias("rung"),
                F.lit(-1).cast("long").alias("fj_duns"),
                "best_name", "best_dist",
                F.array().cast("array<long>").alias("list_of_duns"),
                F.lit(None).cast("double").alias("min_city_dist"),
                F.lit(0).cast("long").alias("n_duns"),
                F.lit(None).cast("long").alias("min_duns"),
                F.array().cast("array<long>").alias("list_of_gduns"),
                F.array().cast("array<string>").alias("list_of_gdun_names"),
                F.lit(False).alias("refit_capped"),
                F.lit(None).cast("double").alias("active_city_dist"),
                F.lit(None).cast("string").alias("parent_norm"),
                *_AUDIT_NAMES,
            )
        )

    # ---- cascade priority: first (lowest-rank) succeeding branch wins.
    # A multi-parent title_change winner keeps ALL its per-parent rows (the
    # reference's list_of_vari block, automation_final2.py:1090-1137) and
    # marks them TEMP2='Y' for the -45000 collapse; every other stage keeps
    # exactly its deterministic top row. The three windows share one
    # hashpartitioning(PROBE_KEYS) exchange.
    stage_rank = F.lit(None).cast("int")
    for name, rank in STAGE_RANK.items():
        stage_rank = F.when(F.col("stage") == name, rank).otherwise(stage_rank)
    w = Window.partitionBy(*PROBE_KEYS).orderBy(
        stage_rank.asc(), F.col("best_dist").asc_nulls_last(),
        F.col("best_name").asc_nulls_last(), F.col("parent_norm").asc_nulls_last(),
    )
    w_all = Window.partitionBy(*PROBE_KEYS)
    resolved = (
        resolved.withColumn("rk", F.row_number().over(w))
        .withColumn("_win_stage", F.min(F.struct(stage_rank.alias("r"), F.col("stage").alias("s"))).over(w_all)["s"])
        .filter(
            (F.col("rk") == 1)
            | ((F.col("stage") == F.col("_win_stage")) & (F.col("stage") == "title_change"))
        )
        .withColumn(
            "temp2",
            F.when(F.count("*").over(w_all) > 1, F.lit("Y")).otherwise(
                F.lit(None).cast("string")
            ),
        )
        .drop("rk", "_win_stage")
    )

    ms = F.coalesce("match_status", F.lit("manual"))
    out = m.join(resolved, PROBE_KEYS, "left").join(diag, "m_norm", "left").select(
        "mention_id",
        "raw_name",
        "m_norm",
        # mention geo keys pass through to the SPNV compat view
        # (COMPRESSES_SEC_PARTY_CITY/STATE, automation_final2.py:1508-1521)
        "m_city_norm",
        "m_state",
        F.when(F.col("is_corp"), "corporate")
        .when(F.col("is_cu"), "credit_union")
        .otherwise("bank")
        .alias("route"),
        F.coalesce("stage", F.lit("manual")).alias("stage"),
        F.coalesce("gdun", F.lit(GDUN_MANUAL).cast("long")).alias("gdun"),
        ms.alias("match_status"),
        F.coalesce("rung", F.lit("manual")).alias("rung"),
        "best_name",
        "best_dist",
        # comma-joined string, the reference's own LIST_OF_DUNS format
        # (automation_final2.py:457-466) — and hashable for the driver's
        # pandas canonicalizer (array<long> is not)
        F.concat_ws(
            ",", F.coalesce("list_of_duns", F.array().cast("array<long>"))
        ).alias("list_of_duns"),
        "old_gdun",
        # OLD_GDUN self-audit (reference automation_final2.py:472-479)
        F.when(F.col("old_gdun").isNull(), F.lit(None).cast("string"))
        .when(F.col("old_gdun") == F.coalesce("gdun", F.lit(GDUN_MANUAL)), "Y")
        .otherwise("N")
        .alias("match_ind"),
        # audit columns for the SPNV compat view: the per-registry pass-1
        # distances (NULL when that registry had no accepted match), the
        # FDIC-branch city-probe distance, the DNB decision's city-rung
        # distance, and the WINNING RUNG's DUNS/GDUN rollups (reference
        # persists these for manual review, automation_final2.py:1508-1521)
        F.col("active_name_dist"),
        F.col("active_city_dist"),
        F.col("inactive_title_dist"),
        F.col("cu_active_dist"),
        F.col("cu_mna_dist"),
        F.col("cu_closed_dist"),
        F.col("min_city_dist").alias("dnb_city_dist"),
        # Manual rows: DUNS_count=-1 / dun_num=-1 (automation_final2.py
        # :658-675); matched/multiple rows carry the winning rung's rollup
        F.when(ms == "manual", F.lit(-1))
        .otherwise(F.col("n_duns"))
        .cast("long")
        .alias("duns_count"),
        F.when(ms == "manual", F.lit(-1))
        .otherwise(F.col("fj_duns"))
        .cast("long")
        .alias("fj_duns"),
        F.concat_ws(
            ",", F.coalesce("list_of_gduns", F.array().cast("array<long>"))
        ).alias("list_of_gduns"),
        F.concat_ws(
            ",",
            F.coalesce("list_of_gdun_names", F.array().cast("array<string>")),
        ).alias("list_of_gdun_names"),
        F.coalesce("refit_capped", F.lit(False)).alias("refit_capped"),
        # multi-parent group marker (reference TEMP1=input row index :1480,
        # TEMP2='Y' on multi-parent emission :1137): one group per mention
        F.col("temp2"),
        F.col("parent_norm"),
        *_AUDIT_NAMES,
    )
    # FJ_GDUN_NAME on success = the winning gdun's GL_ULT_NAM (reference sets
    # gdun_name from the matched row, :455,:547): a join against the
    # gdun→name dim (mention-independent, |distinct gl_ult_dun| rows) —
    # broadcast ONLY when a measured count says the dim fits (same rule as
    # every other broadcast here); a web-scale registry has millions of
    # distinct ultimates and must shuffle instead of OOMing the driver
    if "gl_ult_nam" in dnb.columns:
        gnames = dnb.groupBy(F.col("gl_ult_dun").alias("gdun")).agg(
            F.min("gl_ult_nam").alias("gdun_name")
        )
        # dnb is cached; countDistinct over it bounds the dim's row count
        n_gnames = dnb.select(F.count_distinct("gl_ult_dun")).collect()[0][0]
        if n_gnames <= BROADCAST_GNAMES_LIMIT:
            gnames = F.broadcast(gnames)
        out = out.join(gnames, "gdun", "left")
    else:
        out = out.withColumn("gdun_name", F.lit(None).cast("string"))
    out = out.localCheckpoint()
    _mark("assemble_out")
    for f in (m, dnb, name_parents, reg_names, targets, mb, fdic_gate, pgate, cp):
        f.unpersist()
    return out
