"""Decision-cascade branch parity (FIXTURES.md §4 cascade_cases): routing,
liquidation sentinels, title-change parent resolution, CU M&A chains, and
overall accuracy on the synthetic corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gduns_name_match_spark.plans.cascade import run_cascade
from gduns_name_match_spark.sources import fixtures as fx


@pytest.fixture(scope="module")
def cascade_result(spark):
    f = fx.generate(n_docs=400, seed=5)
    mentions = fx.truth_df(spark, f).select("mention_id", "raw_name")
    dec = run_cascade(spark, mentions, fx.registries(spark, f)).persist()
    truth = fx.truth_df(spark, f).select(
        "mention_id", "true_gdun", "ambiguous", "expected_status"
    )
    joined = truth.join(dec, "mention_id").persist()
    joined.count()
    return joined


def test_liquidated_branch(cascade_result):
    lq = cascade_result.filter(F.col("expected_status") == "liquidated")
    n = lq.count()
    assert n > 0, "fixture produced no liquidated mentions"
    wrong = lq.filter(
        (F.col("gdun") != -21000) | (F.col("match_status") != "liquidated")
    )
    assert wrong.count() == 0, wrong.select(
        "raw_name", "stage", "gdun", "match_status"
    ).collect()


def test_title_change_branch(cascade_result):
    tc = cascade_result.filter(F.col("expected_status") == "title_change")
    n = tc.count()
    assert n > 0
    wrong = tc.filter(
        (F.col("gdun") != F.col("true_gdun")) | (F.col("stage") != "title_change")
    )
    assert wrong.count() == 0, wrong.select(
        "raw_name", "stage", "gdun", "true_gdun", "match_status"
    ).collect()


def test_cu_mna_branch(cascade_result):
    mna = cascade_result.filter(F.col("expected_status") == "cu_mna")
    n = mna.count()
    assert n > 0
    wrong = mna.filter(
        (F.col("gdun") != F.col("true_gdun")) | (F.col("stage") != "cu_mna")
    )
    assert wrong.count() == 0, wrong.select(
        "raw_name", "stage", "gdun", "true_gdun", "match_status"
    ).collect()


def test_normal_mentions_accuracy(cascade_result):
    normal = cascade_result.filter(~F.col("ambiguous"))
    n = normal.count()
    ok = normal.filter(F.col("gdun") == F.col("true_gdun")).count()
    assert ok / n >= 0.99, f"cascade accuracy {ok}/{n}"


def test_ambiguous_twins_go_manual_without_geo(cascade_result):
    """Same-name twin groups with NO mention geography: reference-exact
    Manual (-1). dnb_proccess with a blank city fails the city rung, the
    name rung sees two gduns, there is no HQ, and the fall-through is the
    Manual return (automation_final2.py:658-675) — round 3's engine emitted
    -67000 here, which the reference reserves for a FIRED-but-ambiguous
    city/state/HQ rung (ADVICE r03 item 2). The -67000 paths are asserted
    with city-carrying mentions in test_city_rung_reference_semantics."""
    amb = cascade_result.filter(
        F.col("ambiguous") & F.col("expected_status").isNull()
    )
    if amb.count() == 0:
        pytest.skip("no ambiguous twins sampled")
    bad = amb.filter(
        (F.col("match_status") != "manual") | (F.col("gdun") != -1)
    )
    assert bad.count() == 0, bad.select(
        "raw_name", "stage", "gdun", "match_status"
    ).collect()


@pytest.fixture(scope="module")
def cascade_result_geo(spark):
    """The same corpus WITH mention city/state — exercises the FDIC city
    gate, the city/state decision rungs, and city-based twin disambiguation."""
    f = fx.generate(n_docs=400, seed=5)
    mentions = fx.truth_df(spark, f).select(
        "mention_id", "raw_name", "city", "state"
    )
    dec = run_cascade(spark, mentions, fx.registries(spark, f))
    truth = fx.truth_df(spark, f).select(
        "mention_id", "true_gdun", "ambiguous", "expected_status",
        F.col("city").alias("t_city"),
    )
    joined = truth.join(dec, "mention_id").persist()
    joined.count()
    return joined


def test_geo_mentions_accuracy(cascade_result_geo):
    """City-carrying unambiguous mentions resolve through the city rung (or
    the name rung) to the true gdun."""
    normal = cascade_result_geo.filter(
        ~F.col("ambiguous") & (F.col("t_city") != "")
    )
    n = normal.count()
    assert n > 50, "fixture produced too few geo mentions"
    ok = normal.filter(F.col("gdun") == F.col("true_gdun")).count()
    assert ok / n >= 0.99, f"geo cascade accuracy {ok}/{n}"


def test_geo_twins_city_rung(cascade_result_geo):
    """Twin-name mentions WITH a city decide at the city rung exactly like
    the reference: the argmin-city subset has one gdun → that twin; the twin
    group shares the city → terminal -67000 (never a silent wrong pick)."""
    amb = cascade_result_geo.filter(
        F.col("ambiguous")
        & F.col("expected_status").isNull()
        & (F.col("t_city") != "")
    )
    if amb.count() == 0:
        pytest.skip("no city-carrying twins sampled")
    # CU-routed twins decide at the STATE rung (dnb_c_proccess mode)
    allowed = {"matched_city_tiebreak", "matched_state_tiebreak", "multiple_gduns"}
    bad = amb.filter(~F.col("match_status").isin(*allowed))
    assert bad.count() == 0, bad.select(
        "raw_name", "stage", "gdun", "match_status"
    ).collect()
    matched = amb.filter(F.col("match_status").startswith("matched_"))
    wrong = matched.filter(F.col("gdun") != F.col("true_gdun"))
    assert wrong.count() == 0, wrong.select(
        "raw_name", "gdun", "true_gdun"
    ).collect()


def test_routing(cascade_result):
    routes = {
        r["route"]
        for r in cascade_result.select("route").distinct().collect()
    }
    assert routes <= {"corporate", "credit_union", "bank"}
    # corporate-suffixed mentions that don't mention bank/cu go to DNB direct
    corp = cascade_result.filter(F.col("route") == "corporate")
    if corp.count():
        assert (
            corp.filter(~F.col("stage").isin("dnb_corporate", "manual")).count() == 0
        )


def _empty(spark, schema):
    return spark.createDataFrame([], schema)


def test_hq_tiebreak_and_match_ind(spark):
    """Reference HQ chain (automation_final2.py:975-1009 → 560-600): the
    mention city matches a non-HQ FDIC branch city, so the FDIC branch
    proceeds to DNB carrying HQ = that cert's MAINOFF=1 city; in DNB the
    city rung fails (no 'portland' row), the name rung sees two gduns, and
    the HQ rung resolves at the argmin HQ city subset. OLD_GDUN drives the
    match_ind audit (:472-479)."""
    from gduns_name_match_spark.plans.cascade import Registries, run_cascade

    dnb = spark.createDataFrame(
        [
            (1, "alpha bank", "Springfield", "IL", 100),
            (2, "alpha bank", "Shelby", "TN", 200),
        ],
        "duns_num long, company string, city string, st string, gl_ult_dun long",
    )
    fdic = spark.createDataFrame(
        [
            (10, "alpha bank", "Portland", "OR", 0),
            (10, "alpha bank", "Springfield", "IL", 1),
        ],
        "fdic_id long, name string, city string, state string, mainoff int",
    )
    events = _empty(
        spark,
        "fdic_id long, name string, parent_fdic_id long, parent_name string, "
        "effdate string, source string",
    )
    cu = _empty(spark, "ncua_id long, name string, city string, state string")
    mentions = spark.createDataFrame(
        [
            ("m1", "alpha bank", "Portland", "OR", 100),
            ("m2", "alpha bank", "Portland", "OR", 999),
        ],
        "mention_id string, raw_name string, city string, state string, old_gdun long",
    )
    out = run_cascade(
        spark, mentions,
        Registries(dnb=dnb, fdic_active=fdic, fdic_events=events, cu_active=cu),
    ).collect()
    by_id = {r.mention_id: r for r in out}
    assert by_id["m1"].stage == "fdic_active"
    assert by_id["m1"].gdun == 100
    assert by_id["m1"].match_status == "matched_hq_tiebreak"
    assert by_id["m1"].match_ind == "Y"
    # the HQ rung's rollups describe the argmin-HQ-city subset (springfield)
    assert by_id["m1"].duns_count == 1 and by_id["m1"].fj_duns == 1
    assert by_id["m1"].active_city_dist == 0.0  # portland matched exactly
    assert by_id["m2"].gdun == 100
    assert by_id["m2"].match_ind == "N"


def test_fdic_city_fail_no_geo_goes_manual(spark):
    """Reference parity for the OLD hq-test fixture: a mention whose city
    matches NO FDIC branch city never reaches DNB through the FDIC branch
    (active_proccess city gate, automation_final2.py:981/:1052); it falls to
    the DNB fallback on its own name, where city fails, the name rung sees
    two gduns, there is no HQ → Manual (:658-675). Round 3 resolved this via
    an always-on min-MAINOFF-city HQ rung — a documented divergence, closed."""
    from gduns_name_match_spark.plans.cascade import Registries, run_cascade

    dnb = spark.createDataFrame(
        [
            (1, "alpha bank", "Springfield", "IL", 100),
            (2, "alpha bank", "Shelby", "TN", 200),
        ],
        "duns_num long, company string, city string, st string, gl_ult_dun long",
    )
    fdic = spark.createDataFrame(
        [(10, "alpha bank", "Springfield", "IL", 1)],
        "fdic_id long, name string, city string, state string, mainoff int",
    )
    events = _empty(
        spark,
        "fdic_id long, name string, parent_fdic_id long, parent_name string, "
        "effdate string, source string",
    )
    cu = _empty(spark, "ncua_id long, name string, city string, state string")
    mentions = spark.createDataFrame(
        [("m1", "alpha bank", "Nowhere", "ZZ", 100)],
        "mention_id string, raw_name string, city string, state string, old_gdun long",
    )
    out = run_cascade(
        spark, mentions,
        Registries(dnb=dnb, fdic_active=fdic, fdic_events=events, cu_active=cu),
    ).collect()
    (m1,) = out
    assert m1.stage == "dnb_fallback"
    assert m1.gdun == -1 and m1.match_status == "manual"
    assert m1.duns_count == -1 and m1.fj_duns == -1  # reference Manual fills


def test_fdic_state_fallback_branch(spark):
    """Reference :1140-1155/:1221-1231 ('Fdic name and state matching and
    unique ID'): city-failed FDIC match + unique cert + state equality →
    DNB on the FDIC name, HQ = the name's single MAINOFF=1 city."""
    from gduns_name_match_spark.plans.cascade import Registries, run_cascade

    dnb = spark.createDataFrame(
        [
            (1, "alpha bank", "Springfield", "IL", 100),
            (2, "alpha bank", "Shelby", "TN", 200),
        ],
        "duns_num long, company string, city string, st string, gl_ult_dun long",
    )
    fdic = spark.createDataFrame(
        [
            (10, "alpha bank", "Eugene", "OR", 0),
            (10, "alpha bank", "Springfield", "IL", 1),
        ],
        "fdic_id long, name string, city string, state string, mainoff int",
    )
    events = _empty(
        spark,
        "fdic_id long, name string, parent_fdic_id long, parent_name string, "
        "effdate string, source string",
    )
    cu = _empty(spark, "ncua_id long, name string, city string, state string")
    # city 'Nowhere' fails the FDIC city gate; state OR equals the Eugene row
    mentions = spark.createDataFrame(
        [("m1", "alpha bank", "Nowhere", "OR", None)],
        "mention_id string, raw_name string, city string, state string, old_gdun long",
    )
    out = run_cascade(
        spark, mentions,
        Registries(dnb=dnb, fdic_active=fdic, fdic_events=events, cu_active=cu),
    ).collect()
    (m1,) = out
    assert m1.stage == "fdic_state"
    # DNB: city rung fails, name rung sees {100, 200}, HQ=springfield
    # resolves at the argmin-HQ subset
    assert m1.gdun == 100
    assert m1.match_status == "matched_hq_tiebreak"


def test_match_ind_null_without_old_gdun(cascade_result):
    """Mentions without OLD_GDUN must not fabricate an audit flag."""
    assert cascade_result.filter(F.col("match_ind").isNotNull()).count() == 0


def test_gate_broken_cu_mentions_manual(cascade_result):
    """Perturbations that strip the CU suffix must send the row to the DNB
    fallback and Manual — the reference's credit_proccess gate (:834), NOT a
    cross-route inheritance of the suffixed twin's decision."""
    gated = cascade_result.filter(F.col("expected_status") == "manual_gate")
    if gated.count() == 0:
        pytest.skip("no gate-broken CU mentions sampled")
    bad = gated.filter((F.col("gdun") != -1) | (F.col("match_status") != "manual"))
    assert bad.count() == 0, bad.select(
        "raw_name", "stage", "gdun", "match_status"
    ).collect()


def test_per_registry_idf_reference_parity(spark):
    """VERDICT r03 task 2 (documented divergence 1, closed): the reference
    fits one TfidfVectorizer PER registry (automation_final2.py:400-407).
    Adversarial construction: the CU registry's vocabulary is degenerate —
    every name shares the 'federalcreditunion' suffix — while the union
    registry is dominated by bank names where those grams are rare. Under
    the union IDF the shared suffix carries near-distinguishing weight, so
    a wrong-prefix probe is ACCEPTED (<= 0.2); under the CU registry's own
    IDF the suffix weight collapses to the smooth-IDF floor and the probe
    is correctly rejected. The engine must reproduce the per-registry
    distances exactly."""
    from gduns_name_match_spark.functions.similarity import (
        build_idf_by_tag,
        cosine_dist_local,
        fit_idf_local,
        make_scorer,
    )

    cu_names = [f"{p}federalcreditunion" for p in (
        "alpha", "bravo", "delta", "echo", "fox", "golf", "hotel", "india",
        "juliet", "kilo", "lima", "mike", "nancy", "oscar", "papa", "quebec",
    )]
    bank_names = [f"{a}{b}nationalbank" for a in (
        "first", "citizens", "farmers", "pioneer", "liberty", "summit",
        "heritage", "golden", "valley", "lakeside", "prairie", "granite",
    ) for b in ("iowa", "ohio", "texas", "utah", "idaho", "maine", "kansas",
                "oregon", "dakota", "nevada")]
    probe = "zuluxfederalcreditunion"  # prefix unseen in the CU registry

    # sequential oracle of the reference's per-registry fit: the CU-only
    # IDF must REJECT the probe's best CU candidate while the union IDF
    # accepts it — otherwise the fixture is not adversarial
    idf_cu = fit_idf_local(cu_names)
    idf_union = fit_idf_local(cu_names + bank_names)
    d_cu = min(cosine_dist_local(probe, c, idf_cu) for c in cu_names)
    d_union = min(cosine_dist_local(probe, c, idf_union) for c in cu_names)
    assert d_cu > 0.2 and d_union <= 0.2, (d_cu, d_union)

    tagged = spark.createDataFrame(
        [("cu", n) for n in cu_names] + [("dnb", n) for n in bank_names],
        "tag string, norm_name string",
    )
    idfs = build_idf_by_tag(tagged)
    # distributed build == local reference fit, per tag
    for g, w in fit_idf_local(cu_names).items():
        assert abs(idfs["cu"][g] - w) < 1e-12
    scorer = make_scorer(spark, idfs)
    pairs = spark.createDataFrame(
        [(probe, c, "cu") for c in cu_names]
        + [(probe, cu_names[0], "dnb")],
        "m_norm string, r_norm string, tag string",
    )
    scored = pairs.withColumn(
        "cos_dist",
        scorer(F.col("m_norm"), F.col("r_norm"), F.col("tag"))["cos_dist"],
    ).collect()
    best_cu = min(r["cos_dist"] for r in scored if r["tag"] == "cu")
    assert abs(best_cu - d_cu) < 1e-9
    assert best_cu > 0.2  # the engine rejects, like the reference
    # the SAME pair under the dnb registry's weights scores differently —
    # per-row tag keying is real, not a single shared table
    (dnb_row,) = [r for r in scored if r["tag"] == "dnb"]
    cu_row = [r for r in scored if r["r_norm"] == cu_names[0] and r["tag"] == "cu"][0]
    assert abs(dnb_row["cos_dist"] - cu_row["cos_dist"]) > 1e-6


def test_state_rung_blank_state_guard(spark):
    """A geo-less probe (m_state='') must NEVER terminally state-match a
    registry row whose state is blank (code-review r04 finding): the rung
    fires only on a real, non-empty equality — mirroring the HQ rung's ''
    guard and the reference's mention-' '-vs-registry-NaN never-equal."""
    from gduns_name_match_spark.operators.resolve import resolve_gdun

    reg = spark.createDataFrame(
        [
            (1, 101, "blankbank", "omaha", ""),
            (2, 102, "blankbank", "tulsa", "OK"),
        ],
        "duns_num long, gl_ult_dun long, norm_name string, norm_city string, st string",
    )
    best = spark.createDataFrame(
        [("p1", "blankbank", 0.0, "", "")],
        "probe_key string, best_name string, best_dist double, m_city string, m_state string",
    )
    row = resolve_gdun(
        best, reg, probe_id="probe_key", probe_city="m_city",
        probe_state="m_state", group_refit=True, geo_mode="state",
    ).collect()[0]
    # no state rung, name not unique, state mode has no HQ → Manual
    assert row["match_status"] == "manual" and row["gdun"] == -1


def test_city_rung_reference_semantics(spark):
    """ADVICE r03 item 2's exact scenario, closed: the city rung tests gdun
    uniqueness within the ARGMIN-city subset (matc1 = matc[CITY==dnb_city],
    automation_final2.py:445-452), fires BEFORE the name rung, and is
    terminal in both directions."""
    from gduns_name_match_spark.operators.resolve import resolve_gdun

    reg = spark.createDataFrame(
        [
            # nearest city unique-gdun, but a SECOND accepted city under a
            # different gdun: reference matches 101; round-3's
            # all-accepted-cities test fell through to -67000
            (1, 101, "acmebank", "eastport", "NY"),
            (2, 102, "acmebank", "eastportt", "CT"),
            # unique-gdun group: with an accepted city the reference returns
            # from the CITY rung ('Data from DNB'), not the name rung
            (3, 300, "solobank", "omaha", "NE"),
            (4, 300, "solobank", "tulsa", "OK"),
            # two gduns AT the argmin city: terminal -67000 even though the
            # probe also carries an HQ that would resolve (no fall-through)
            (5, 501, "twinbank", "boise", "ID"),
            (6, 502, "twinbank", "boise", "ID"),
            (7, 501, "twinbank", "fargo", "ND"),
        ],
        "duns_num long, gl_ult_dun long, norm_name string, norm_city string, st string",
    )
    best = spark.createDataFrame(
        [
            ("p1", "acmebank", 0.0, "eastport", "", ""),
            ("p2", "solobank", 0.0, "omaha", "", ""),
            ("p3", "twinbank", 0.0, "boise", "", "fargo"),
        ],
        "probe_key string, best_name string, best_dist double, "
        "m_city string, m_state string, hq_city string",
    )
    out = {
        r["probe_key"]: r
        for r in resolve_gdun(
            best, reg, probe_id="probe_key", probe_city="m_city",
            probe_state="m_state", probe_hq="hq_city", group_refit=True,
            geo_mode="city",
        ).collect()
    }
    p1 = out["p1"]
    assert p1["gdun"] == 101 and p1["match_status"] == "matched_city_tiebreak"
    assert p1["n_duns"] == 1 and p1["fj_duns"] == 1  # rollups over matc1
    p2 = out["p2"]
    assert p2["gdun"] == 300
    assert p2["match_status"] == "matched_city_tiebreak"  # city BEFORE name
    assert p2["n_duns"] == 1 and p2["list_of_duns"] == [3]
    p3 = out["p3"]
    assert p3["gdun"] == -67000 and p3["match_status"] == "multiple_gduns"
    assert p3["n_duns"] == 2 and p3["list_of_duns"] == [5, 6]  # boise subset
    assert p3["fj_duns"] == -1


def test_hq_multi_cert_selection_reference_parity(spark):
    """VERDICT r03 task 6 (documented divergence 2, closed): a matched FDIC
    name with multiple MAINOFF=1 certs in different cities. The reference
    picks the cert at the mention's matched city and uses ITS headquarters
    (automation_final2.py:992-1009); round 3 took the deterministic min
    MAINOFF city of the whole name — here those disagree ('ashland' is the
    min city but belongs to the OTHER cert)."""
    from gduns_name_match_spark.plans.cascade import Registries, run_cascade

    dnb = spark.createDataFrame(
        [
            (1, "beta bank", "Zanesville", "OH", 100),
            (2, "beta bank", "Shelby", "TN", 200),
        ],
        "duns_num long, company string, city string, st string, gl_ult_dun long",
    )
    fdic = spark.createDataFrame(
        [
            # cert 11: branch in Dayton, HQ in Zanesville
            (11, "beta bank", "Dayton", "OH", 0),
            (11, "beta bank", "Zanesville", "OH", 1),
            # cert 12: HQ in Ashland (the min-city pick round 3 would take)
            (12, "beta bank", "Ashland", "KY", 1),
        ],
        "fdic_id long, name string, city string, state string, mainoff int",
    )
    events = _empty(
        spark,
        "fdic_id long, name string, parent_fdic_id long, parent_name string, "
        "effdate string, source string",
    )
    cu = _empty(spark, "ncua_id long, name string, city string, state string")
    # mention city Dayton → matched city subset = cert 11 alone → HQ must be
    # Zanesville (cert 11's MAINOFF city), never Ashland
    mentions = spark.createDataFrame(
        [("m1", "beta bank", "Dayton", "OH", None)],
        "mention_id string, raw_name string, city string, state string, old_gdun long",
    )
    out = run_cascade(
        spark, mentions,
        Registries(dnb=dnb, fdic_active=fdic, fdic_events=events, cu_active=cu),
    ).collect()
    (m1,) = out
    assert m1.stage == "fdic_active"
    # DNB city rung fails (no dayton), name rung sees {100, 200}, the HQ
    # rung probes with ZANESVILLE and resolves gdun 100; the min-city HQ
    # (ashland) would have gone Manual
    assert m1.gdun == 100 and m1.match_status == "matched_hq_tiebreak"


def test_group_refit_city_tiebreak_reference_parity(spark):
    """V5 closure (VERDICT r02 missing #1): the city tie-break must re-fit
    TF-IDF on the matched GROUP's own cities, not rank by registry-wide IDF.

    Adversarial construction: the matched name has two candidate gduns in
    'eastport' / 'westport'; the rest of the registry is full
    of east*/west* cities but never contains 'stport' suffix. Registry-wide
    IDF then weights the shared 'stport' suffix grams so heavily that BOTH
    group cities land within 0.2 of the probe ('eastport') — two
    city-ok gduns, rung falls through, -67000. The per-group re-fit
    downweights the shared suffix (df=2 of n=2), so only the exact city is
    accepted and the reference's unique city match resolves (gdun 101)."""
    from gduns_name_match_spark.functions.similarity import (
        build_idf,
        cosine_dist_local,
        fit_idf_local,
        make_scorer,
    )
    from gduns_name_match_spark.operators.resolve import resolve_gdun

    group = [
        (1, 101, "acmebank", "eastport", "NY"),
        (2, 102, "acmebank", "westport", "CT"),
    ]
    filler = []
    for i in range(25):
        filler.append((100 + i, 900 + i, f"other{i}", f"easthaven{i % 5}", "TX"))
        filler.append((200 + i, 950 + i, f"more{i}", f"westville{i % 5}", "CA"))
    reg = spark.createDataFrame(
        group + filler,
        "duns_num long, gl_ult_dun long, norm_name string, norm_city string, st string",
    )
    best = spark.createDataFrame(
        [("p1", "acmebank", 0.0, "eastport", "")],
        "probe_key string, best_name string, best_dist double, m_city string, m_state string",
    )

    # in-test sequential oracle of the reference's per-group re-fit
    g_cities = [c for (_, _, _, c, _) in group]
    idf_g = fit_idf_local(g_cities)
    d_east = cosine_dist_local("eastport", g_cities[0], idf_g)
    d_west = cosine_dist_local("eastport", g_cities[1], idf_g)
    assert d_east == 0.0 and d_west > 0.2, (d_east, d_west)

    refit = resolve_gdun(
        best, reg, probe_id="probe_key", probe_city="m_city",
        probe_state="m_state", group_refit=True,
    ).collect()[0]
    assert refit["gdun"] == 101
    assert refit["match_status"] == "matched_city_tiebreak"

    # the registry-wide-IDF ranking demonstrably diverges on this fixture —
    # both cities pass 0.2, the rung falls through, -67000
    global_udf = make_scorer(spark, {"city": build_idf(reg, "norm_city")})
    global_row = resolve_gdun(
        best, reg, city_cosine_udf=global_udf, probe_id="probe_key",
        probe_city="m_city", probe_state="m_state",
    ).collect()[0]
    assert global_row["match_status"] != "matched_city_tiebreak"


def test_parent_geo_gate_counts_city_accepted_parents(spark):
    """VERDICT r04 task 4's adversarial scenario, closed: a two-parent event
    name where only ONE parent passes its own FDIC state-exact + city gate
    (automation_final2.py:1327-1378). The reference resolves it SINGLY (co=1,
    no TEMP2); round 4's engine emitted TEMP2 rows for all distinct parents.
    A mention whose geo satisfies BOTH parents still gets the two-row
    TEMP2='Y' emission, and a geo-less mention fails every gate (co=0) and
    falls through path B to Manual."""
    from gduns_name_match_spark.plans.cascade import Registries, run_cascade

    dnb = spark.createDataFrame(
        [
            (1, "gamma holdings", "Omaha", "NE", 100),
            (2, "delta trust", "Tulsa", "OK", 200),
        ],
        "duns_num long, company string, city string, st string, gl_ult_dun long",
    )
    fdic = spark.createDataFrame(
        [
            (20, "gamma holdings", "Omaha", "NE", 1),
            (21, "delta trust", "Tulsa", "OK", 1),
            # delta's second branch shares gamma's location — only a mention
            # AT that location accepts both parents
            (21, "delta trust", "Omaha", "NE", 0),
        ],
        "fdic_id long, name string, city string, state string, mainoff int",
    )
    events = spark.createDataFrame(
        [
            (40, "old national banc", 20, "gamma holdings", "2019-01-01", "TC"),
            (40, "old national banc", 21, "delta trust", "2020-01-01", "TC"),
        ],
        "fdic_id long, name string, parent_fdic_id long, parent_name string, "
        "effdate string, source string",
    )
    cu = _empty(spark, "ncua_id long, name string, city string, state string")
    mentions = spark.createDataFrame(
        [
            # Tulsa/OK: only delta's gate accepts → co=1, single row
            ("m1", "old national banc", "Tulsa", "OK"),
            # Omaha/NE: both parents have an accepting branch → TEMP2
            ("m2", "old national banc", "Omaha", "NE"),
            # geo-less: every gate fails → co=0 → path-B fall-through Manual
            ("m3", "old national banc", "", ""),
        ],
        "mention_id string, raw_name string, city string, state string",
    )
    rows = run_cascade(
        spark, mentions,
        Registries(dnb=dnb, fdic_active=fdic, fdic_events=events, cu_active=cu),
    ).collect()
    by_id: dict[str, list] = {}
    for r in rows:
        by_id.setdefault(r.mention_id, []).append(r)
    (m1,) = by_id["m1"]
    assert m1.stage == "title_change" and m1.gdun == 200
    assert m1.temp2 is None
    m2 = sorted(by_id["m2"], key=lambda r: r.gdun)
    assert len(m2) == 2 and [r.gdun for r in m2] == [100, 200]
    assert all(r.temp2 == "Y" and r.stage == "title_change" for r in m2)
    assert len({r.parent_norm for r in m2}) == 2
    (m3,) = by_id["m3"]
    assert m3.gdun == -1 and m3.match_status == "manual"
    assert m3.stage != "title_manual"  # path B falls through, never Manual-terminal


def test_title_loc_second_loop_and_path_a_manual(spark):
    """The co==0 second loop (automation_final2.py:1173-1204): the title
    registry's OWN city/state rows accept exactly one parent → DNB on the
    PARENT name with HQ = PARENT_CITY; and the path-A chain probe whose
    every fallback fails ends Manual-TERMINAL (:1203-1219) — never falling
    to the CU/DNB fallbacks."""
    from gduns_name_match_spark.plans.cascade import Registries, run_cascade

    dnb = spark.createDataFrame(
        [
            (1, "zeta financial", "Denver", "CO", 300),
            (2, "epsilon bank", "Fargo", "ND", 400),
        ],
        "duns_num long, company string, city string, st string, gl_ult_dun long",
    )
    # two certs for the active name → the fdic_state fallback can never fire
    fdic = spark.createDataFrame(
        [
            (30, "epsilon bank", "Fargo", "ND", 1),
            (31, "epsilon bank", "Boise", "ID", 1),
        ],
        "fdic_id long, name string, city string, state string, mainoff int",
    )
    # the events registry carries its own CITY/STATE/PARENT_CITY — the
    # second loop's probe surface; the parent has NO FDIC-active row, so the
    # first (state-exact) loop can never accept it
    events = spark.createDataFrame(
        [
            (30, "epsilon bank", -1, "zeta financial", "2020-01-01", "TC",
             "Reno", "NV", "Denver"),
        ],
        "fdic_id long, name string, parent_fdic_id long, parent_name string, "
        "effdate string, source string, city string, state string, "
        "parent_city string",
    )
    cu = _empty(spark, "ncua_id long, name string, city string, state string")
    mentions = spark.createDataFrame(
        [
            # city fails the FDIC gate (path A), the second loop's Reno/NV
            # row accepts exactly one parent → DNB on 'zeta financial'
            ("m1", "epsilon bank", "Reno", "NV"),
            # city fails everything → path-A Manual-terminal
            ("m2", "epsilon bank", "Salem", "OR"),
        ],
        "mention_id string, raw_name string, city string, state string",
    )
    rows = {r.mention_id: r for r in run_cascade(
        spark, mentions,
        Registries(dnb=dnb, fdic_active=fdic, fdic_events=events, cu_active=cu),
    ).collect()}
    m1 = rows["m1"]
    assert m1.stage == "title_change_loc" and m1.gdun == 300
    assert m1.best_name == "zetafinancial"
    m2 = rows["m2"]
    assert m2.stage == "title_manual"
    assert m2.gdun == -1 and m2.match_status == "manual"
    assert m2.duns_count == -1 and m2.fj_duns == -1


def test_chain_child_semantics(cascade_result_geo, cascade_result):
    """Chain-child banks (events children of the A→B→C mergers): a
    geo-carrying mention passes the member-city-covering FDIC gate and
    resolves fdic_active to its own gdun; a geo-less one enters the title
    chain, fails every parent's state-exact gate, and ends Manual-terminal
    exactly like the reference (:1203-1219)."""
    geo = cascade_result_geo.filter(
        F.col("expected_status") == "chain_child_geo"
    )
    if geo.count() == 0:
        pytest.skip("no geo chain-child mentions sampled")
    bad = geo.filter(
        (F.col("stage") != "fdic_active") | (F.col("gdun") != F.col("true_gdun"))
    )
    assert bad.count() == 0, bad.select(
        "raw_name", "stage", "gdun", "true_gdun"
    ).collect()
    manual = cascade_result.filter(
        F.col("expected_status") == "chain_child_manual"
    )
    if manual.count() == 0:
        pytest.skip("no geo-less chain-child mentions sampled")
    badm = manual.filter(
        (F.col("stage") != "title_manual") | (F.col("gdun") != -1)
    )
    assert badm.count() == 0, badm.select(
        "raw_name", "stage", "gdun", "match_status"
    ).collect()


def test_path_b_lone_parent_cu_reprobe(spark):
    """VERDICT r05 task 1 (the last documented behavioral divergence,
    closed): a path-B mention (no FDIC match) whose matched events name has
    ONE chained parent that itself has NO FDIC-active match. The reference
    re-probes the PARENT, never the mention (automation_final2.py:1283-1316):

    * m1 'first harbor cu' — CU-suffixed; parent 'coastal partners' IS in
      CU-active → dnb_c on the MATCHED CU NAME (:1295-1313; both ID_NCUA
      branches are verbatim-identical, so no gate) → gdun 500. The engine's
      old mention-probing cu_active branch would have taken the decoy CU row
      'first harbor cu' → DNB → gdun 900.
    * m2 'second anchor cu' — CU-suffixed; parent 'inland ventures' is in
      NEITHER FDIC nor CU-active → dnb_proccess on the MENTION name
      (:1314-1316, CITY mode) → the reno row's gdun 901. The mention-probing
      cu_active branch (STATE mode, two gduns in NV) would have gone Manual.
    """
    from gduns_name_match_spark.operators.compat import to_spnv_match_raw
    from gduns_name_match_spark.plans.cascade import Registries, run_cascade

    dnb = spark.createDataFrame(
        [
            (1, "coastal partners", "Carson", "NV", 500),
            (2, "first harbor cu", "Reno", "NV", 900),
            (3, "second anchor cu", "Reno", "NV", 901),
            (4, "second anchor cu", "Sparks", "NV", 902),
        ],
        "duns_num long, company string, city string, st string, gl_ult_dun long",
    )
    fdic = spark.createDataFrame(
        [(10, "epsilon bank", "Fargo", "ND", 1)],
        "fdic_id long, name string, city string, state string, mainoff int",
    )
    events = spark.createDataFrame(
        [
            (40, "first harbor cu", -1, "coastal partners", "2020-01-01", "TC"),
            (41, "second anchor cu", -1, "inland ventures", "2020-01-01", "TC"),
        ],
        "fdic_id long, name string, parent_fdic_id long, parent_name string, "
        "effdate string, source string",
    )
    cu = spark.createDataFrame(
        [
            (70, "coastal partners", "Carson", "NV"),
            (71, "first harbor cu", "Reno", "NV"),
            (72, "second anchor cu", "Reno", "NV"),
        ],
        "ncua_id long, name string, city string, state string",
    )
    mentions = spark.createDataFrame(
        [
            ("m1", "first harbor cu", "Reno", "NV"),
            ("m2", "second anchor cu", "Reno", "NV"),
        ],
        "mention_id string, raw_name string, city string, state string",
    )
    dec = run_cascade(
        spark, mentions,
        Registries(dnb=dnb, fdic_active=fdic, fdic_events=events, cu_active=cu),
    )
    rows = {r.mention_id: r for r in dec.collect()}
    m1 = rows["m1"]
    assert m1.stage == "title_cu" and m1.gdun == 500
    assert m1.parent_norm == "coastalpartners"
    assert m1.hop_name == "coastalpartners" and m1.parent_unique == 1
    m2 = rows["m2"]
    assert m2.stage == "title_dnb" and m2.gdun == 901
    assert m2.match_status == "matched_city_tiebreak"
    # SPNV view parity for the re-probe row (:1300-1305)
    view = {
        r["PERM_ID"]: r
        for r in to_spnv_match_raw(dec).collect()
    }
    v1 = view["m1"]
    assert v1["SOURCE"] == "CREDITUNION_ACTIVE"
    assert v1["CREDIT_UNION_PARENT"] == "coastalpartners"
    assert v1["FDIC_ACTIVE_PARENT"] == "coastalpartners"
    assert (
        v1["DETAIL_INFO"]
        == "inactive parent mapped in FDIC to a active credit union"
    )
    assert v1["PARENT_UNIQUE_ID"] == 1
    assert view["m2"]["SOURCE"] == "DNB"


def test_second_loop_nonlatest_parent_only_in_dnb(spark):
    """ADVICE r05 medium, closed: a multi-parent event name whose NON-latest
    parent exists ONLY in DNB (not FDIC/CU, not itself an events child).
    best2's semi-join to `targets` used to discard that parent's DNB score
    (targets only carried roots of each name's LATEST parent), so a second-
    loop acceptance emitted dnb_name=NULL → Manual where the reference
    DNB-probes the parent (:1193 → :1205 dnb_proccess) and resolves. Every
    par_root candidate is now unioned into targets."""
    from gduns_name_match_spark.operators.compat import to_spnv_match_raw
    from gduns_name_match_spark.plans.cascade import Registries, run_cascade

    dnb = spark.createDataFrame(
        [(1, "kappa holdings", "Carson City", "NV", 700)],
        "duns_num long, company string, city string, st string, gl_ult_dun long",
    )
    fdic = spark.createDataFrame(
        [(10, "epsilon bank", "Fargo", "ND", 1)],
        "fdic_id long, name string, city string, state string, mainoff int",
    )
    # events carry their own geo (the second loop's probe surface); the
    # LATEST parent is lambda trust — kappa holdings is the non-latest one
    events = spark.createDataFrame(
        [
            (50, "omega bancorp", -1, "kappa holdings", "2019-01-01", "TC",
             "Reno", "NV", "Carson City"),
            (51, "omega bancorp", -1, "lambda trust", "2020-01-01", "TC",
             "Boise", "ID", "Pocatello"),
        ],
        "fdic_id long, name string, parent_fdic_id long, parent_name string, "
        "effdate string, source string, city string, state string, "
        "parent_city string",
    )
    cu = _empty(spark, "ncua_id long, name string, city string, state string")
    mentions = spark.createDataFrame(
        [("m1", "omega bancorp", "Reno", "NV")],
        "mention_id string, raw_name string, city string, state string",
    )
    dec = run_cascade(
        spark, mentions,
        Registries(dnb=dnb, fdic_active=fdic, fdic_events=events, cu_active=cu),
    )
    (m1,) = dec.collect()
    assert m1.stage == "title_change_loc"
    assert m1.best_name == "kappaholdings" and m1.gdun == 700
    assert m1.match_status == "matched_name"
    # loc-row audit parity: stripped x (:1172), empty y (:1192), the
    # surviving registry row's own SOURCE (:1196), final_title = the parent
    (v1,) = to_spnv_match_raw(dec).collect()
    assert v1["FDIC_INACTIVE_PARENT_IDN"] == "kappaholdings,lambdatrust"
    assert v1["FDIC_INACTIVE_PARENT_MAP"] == "kappaholdings"
    assert v1["FINAL_FDIC_PARENT"] == "kappaholdings"
    assert v1["PARENT_UNIQUE_ID"] == 0
    assert v1["SOURCE"] == "TC"


def test_lq_source_divergence_bound(spark):
    """VERDICT r05 task 3a — fixture-bounding the LQ-source divergence: the
    reference's co==0 LQ check reads row['SOURCE'] as overwritten by the LAST
    list_1 loop iteration (automation_final2.py:1080 → :1159), i.e. a
    frame-order artifact of PARENT_NAME.unique(); the engine deterministically
    reads the LATEST event's source (name_parents max_by effdate). This
    fixture pins the engine's choice in both directions — two parents whose
    sources differ ('MERGLQ' vs 'TC'): when the latest event is the LQ one
    the row liquidates (-21000, SOURCE = the triggering source code); when
    the latest event is the TC one the chain falls through the second loop
    (no geo match) to path-A Manual. The reference's answer depends on
    pandas frame order over the same input, so this is the measured bound,
    not an exactness claim."""
    from gduns_name_match_spark.operators.compat import to_spnv_match_raw
    from gduns_name_match_spark.plans.cascade import Registries, run_cascade

    dnb = spark.createDataFrame(
        [(1, "tau holdings", "Fargo", "ND", 600)],
        "duns_num long, company string, city string, st string, gl_ult_dun long",
    )
    # two certs → the fdic_state fallback can never fire; the mention's city
    # fails the FDIC gate → path A
    fdic = spark.createDataFrame(
        [
            (30, "sigma bank", "Fargo", "ND", 1),
            (31, "sigma bank", "Boise", "ID", 1),
        ],
        "fdic_id long, name string, city string, state string, mainoff int",
    )
    cu = _empty(spark, "ncua_id long, name string, city string, state string")

    def run(ev_rows):
        events = spark.createDataFrame(
            ev_rows,
            "fdic_id long, name string, parent_fdic_id long, "
            "parent_name string, effdate string, source string",
        )
        mentions = spark.createDataFrame(
            [("m1", "sigma bank", "Nowhere", "ZZ")],
            "mention_id string, raw_name string, city string, state string",
        )
        (row,) = run_cascade(
            spark, mentions,
            Registries(dnb=dnb, fdic_active=fdic, fdic_events=events,
                       cu_active=cu),
        ).collect()
        return row

    # latest event carries the LQ source → liquidated
    lq_latest = run([
        (30, "sigma bank", -1, "tau holdings", "2019-01-01", "TC"),
        (30, "sigma bank", -1, "ups trust", "2020-01-01", "MERGLQ"),
    ])
    assert lq_latest.stage == "title_change_lq"
    assert lq_latest.gdun == -21000
    assert lq_latest.branch_source == "MERGLQ"
    # latest event is NOT LQ → the older LQ row never triggers; the chain
    # falls through (no second-loop geo) to the path-A Manual terminal
    tc_latest = run([
        (30, "sigma bank", -1, "tau holdings", "2020-01-01", "TC"),
        (30, "sigma bank", -1, "ups trust", "2019-01-01", "MERGLQ"),
    ])
    assert tc_latest.stage == "title_manual"
    assert tc_latest.gdun == -1


def test_parent_identity_root_divergence_bound(spark):
    """VERDICT r05 task 3b — fixture-bounding the parent-identity divergence:
    the reference probes the RAW title-registry PARENT_NAME against FDIC
    (automation_final2.py:1076); the engine probes root(parent) (pointer-
    doubled through the events graph), which is equivalent exactly when the
    registry's own refresh has rewritten parents to their latest downstream
    parent (the reference's fdic_events refresh does, fdic_events.py:379-392).
    Chain: 'a bancorp' → 'b holdings' (2019) while 'b holdings' → 'c trust'
    (2020) is itself an event, i.e. an UNREFRESHED registry.

    * sub-case 1 (root resolvable): the lone-parent candidate is root
      'c trust'; its FDIC/DNB rows resolve → title_change on the ROOT, never
      on raw 'b holdings'.
    * sub-case 2 (only the raw parent resolvable): FDIC/DNB carry
      'b holdings' but NOT 'c trust' → the engine goes Manual where the
      reference (on this unrefreshed input) would resolve via the raw
      parent — the measured bound of the divergence."""
    from gduns_name_match_spark.plans.cascade import Registries, run_cascade

    events = spark.createDataFrame(
        [
            (60, "a bancorp", -1, "b holdings", "2019-01-01", "TC"),
            (61, "b holdings", -1, "c trust", "2020-01-01", "TC"),
        ],
        "fdic_id long, name string, parent_fdic_id long, parent_name string, "
        "effdate string, source string",
    )
    cu = _empty(spark, "ncua_id long, name string, city string, state string")
    mentions = spark.createDataFrame(
        [("m1", "a bancorp", "Tulsa", "OK")],
        "mention_id string, raw_name string, city string, state string",
    )

    def run(dnb_rows, fdic_rows):
        dnb = spark.createDataFrame(
            dnb_rows,
            "duns_num long, company string, city string, st string, "
            "gl_ult_dun long",
        )
        fdic = spark.createDataFrame(
            fdic_rows,
            "fdic_id long, name string, city string, state string, mainoff int",
        )
        (row,) = run_cascade(
            spark, mentions,
            Registries(dnb=dnb, fdic_active=fdic, fdic_events=events,
                       cu_active=cu),
        ).collect()
        return row

    got = run(
        [(1, "c trust", "Tulsa", "OK", 800)],
        [(10, "c trust", "Tulsa", "OK", 1)],
    )
    assert got.stage == "title_change" and got.gdun == 800
    assert got.parent_norm == "ctrust"
    bound = run(
        [(1, "b holdings", "Tulsa", "OK", 850)],
        [(10, "b holdings", "Tulsa", "OK", 1)],
    )
    # engine: candidate 'ctrust' matches nothing → Manual; the reference on
    # this unrefreshed registry would probe raw 'b holdings' → gdun 850
    assert bound.gdun == -1 and bound.match_status == "manual"


def test_title_change_audit_columns(spark):
    """VERDICT r05 task 2 done-criterion: the per-parent gate scalars thread
    into the SPNV view on the two-parent fixture. Reuses the
    test_parent_geo_gate fixture shape: m2 (Omaha/NE) accepts BOTH parents →
    x = ','-prefixed full candidate list (:1132 keeps the leading comma),
    y = each row's accepted-so-far prefix (:1106, never rewritten), p_ac_dis
    = the parent's FDIC-probe distance (:1115), p_c_d = the STATE-probe
    distance (:1088 quirk), parent_unique_count = 0 (:1066); m1 (Tulsa/OK)
    accepts only delta → y is delta alone while x still lists both."""
    from gduns_name_match_spark.operators.compat import to_spnv_match_raw
    from gduns_name_match_spark.plans.cascade import Registries, run_cascade

    dnb = spark.createDataFrame(
        [
            (1, "gamma holdings", "Omaha", "NE", 100),
            (2, "delta trust", "Tulsa", "OK", 200),
        ],
        "duns_num long, company string, city string, st string, gl_ult_dun long",
    )
    fdic = spark.createDataFrame(
        [
            (20, "gamma holdings", "Omaha", "NE", 1),
            (21, "delta trust", "Tulsa", "OK", 1),
            (21, "delta trust", "Omaha", "NE", 0),
        ],
        "fdic_id long, name string, city string, state string, mainoff int",
    )
    events = spark.createDataFrame(
        [
            (40, "old national banc", 20, "gamma holdings", "2019-01-01", "EVTC"),
            (40, "old national banc", 21, "delta trust", "2020-01-01", "EVTC"),
        ],
        "fdic_id long, name string, parent_fdic_id long, parent_name string, "
        "effdate string, source string",
    )
    cu = _empty(spark, "ncua_id long, name string, city string, state string")
    mentions = spark.createDataFrame(
        [
            ("m1", "old national banc", "Tulsa", "OK"),
            ("m2", "old national banc", "Omaha", "NE"),
        ],
        "mention_id string, raw_name string, city string, state string",
    )
    dec = run_cascade(
        spark, mentions,
        Registries(dnb=dnb, fdic_active=fdic, fdic_events=events, cu_active=cu),
    )
    view = to_spnv_match_raw(dec)
    rows: dict[str, list] = {}
    for r in view.collect():
        rows.setdefault(r["PERM_ID"], []).append(r)
    (v1,) = rows["m1"]
    assert v1["FDIC_INACTIVE_PARENT_IDN"] == ",deltatrust,gammaholdings"
    assert v1["FDIC_INACTIVE_PARENT_MAP"] == "deltatrust"
    assert v1["FINAL_FDIC_PARENT"] == "deltatrust"  # the matched FDIC name
    assert v1["PARENT_UNIQUE_ID"] == 0
    # exact FDIC hit for the parent / state-exact (the :1088 quirk) — both
    # cosine distances, so zero only up to float epsilon
    assert abs(v1["PARENT_NAME_DISTANCE"]) < 1e-9
    assert abs(v1["PARENT_CITY_DISTANCE"]) < 1e-9
    assert v1["SOURCE"] == "EVTC"  # the registry row's own source, not 'TC'
    v2 = sorted(rows["m2"], key=lambda r: r["FDIC_INACTIVE_PARENT_MAP"])
    assert len(v2) == 2 and {r["TEMP2"] for r in v2} == {"Y"}
    assert [r["FDIC_INACTIVE_PARENT_MAP"] for r in v2] == [
        "deltatrust", "gammaholdings",
    ]
    assert all(
        r["FDIC_INACTIVE_PARENT_IDN"] == ",deltatrust,gammaholdings"
        for r in v2
    )
    # y keeps each emission's partial prefix (engine loop order = sorted)
    decs = {r.parent_norm: r for r in dec.collect() if r.mention_id == "m2"}
    assert decs["deltatrust"].list_parents_geo == ",deltatrust"
    assert decs["gammaholdings"].list_parents_geo == ",deltatrust,gammaholdings"


def test_explode_duns_details_on_cascade_output(cascade_result_geo):
    """VERDICT r05 task 6: duns_table.py's U2 explode wired onto the REAL
    cascade output — the -67000 / multi-DUNS rows' comma-joined LIST_OF_DUNS
    round-trips through explode_spnv_duns (per-mention multiset equality,
    so TEMP2 multi-parent groups sharing a PERM_ID are compared correctly)."""
    from gduns_name_match_spark.operators.compat import to_spnv_match_raw
    from gduns_name_match_spark.operators.postprocess import explode_spnv_duns

    view = to_spnv_match_raw(
        cascade_result_geo.drop(
            "true_gdun", "ambiguous", "expected_status", "t_city"
        )
    ).persist()
    multi = view.filter(F.col("DUNS_COUNT") > 1)
    if multi.count() == 0:
        view.unpersist()
        pytest.skip("no multi-DUNS rows in the fixture cascade")
    exploded = explode_spnv_duns(view)
    got: dict[str, list[int]] = {}
    for r in exploded.collect():
        got.setdefault(r["PERM_ID"], []).append(r["FJ_DUNS"])
    # expected values computed INDEPENDENTLY of the Spark expression under
    # test: plain-Python parse of the reference's persisted comma-joined
    # format (duns_table.py:36-53 — ints, empty fragments dropped)
    want: dict[str, list[int]] = {}
    for r in multi.select("PERM_ID", "LIST_OF_DUNS").collect():
        want.setdefault(r["PERM_ID"], []).extend(
            int(p) for p in r["LIST_OF_DUNS"].split(",") if p
        )
    assert {k: sorted(v) for k, v in got.items()} == {
        k: sorted(v) for k, v in want.items()
    }
    assert all(d is not None for v in got.values() for d in v)
    assert sum(len(v) for v in want.values()) > 0
    view.unpersist()
