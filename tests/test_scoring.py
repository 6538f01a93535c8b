"""Kernel-level scoring semantics: TF-IDF cosine against a hand-computed
sklearn-default oracle, Jaro-Winkler known values, OOV handling, and the
acceptor threshold."""

from __future__ import annotations

import math

import pytest

from gduns_name_match_spark.functions.similarity import (
    _cosine_and_overlap,
    _register_idf,
    build_idf,
    char_ngrams,
    jaro_winkler,
    make_scorer,
)


def _manual_idf(names: list[str]) -> dict[str, float]:
    """The sklearn-default smooth IDF the reference relies on:
    ln((1+n)/(1+df)) + 1 (automation_final2.py:388 TfidfVectorizer defaults)."""
    n = len(names)
    df: dict[str, int] = {}
    for nm in names:
        for g in set(char_ngrams(nm)):
            df[g] = df.get(g, 0) + 1
    return {g: math.log((1 + n) / (1 + c)) + 1 for g, c in df.items()}


def _manual_cosine(a: str, b: str, idf: dict[str, float]) -> float:
    def vec(s):
        v: dict[str, float] = {}
        for g in char_ngrams(s):
            if g in idf:
                v[g] = v.get(g, 0.0) + idf[g]
        return v

    va, vb = vec(a), vec(b)
    na = math.sqrt(sum(x * x for x in va.values()))
    nb = math.sqrt(sum(x * x for x in vb.values()))
    if not na or not nb:
        return 1.0
    dot = sum(w * vb.get(g, 0.0) for g, w in va.items())
    return 1.0 - dot / (na * nb)


REGISTRY = [
    "jpmorganchasebank", "wellsfargobank", "bankofamerica",
    "firstnationalbank", "citizensstatebank", "navyfederalcreditunion",
]


def test_cosine_matches_dict_oracle():
    idf = _manual_idf(REGISTRY)
    _register_idf("unit", idf)
    probes = ["jpmorganchasebank", "jpmorganchasebankna", "wellsfargo",
              "navyfcu", "zzz", ""]
    for p in probes:
        for r in REGISTRY:
            got, _ = _cosine_and_overlap(p, r, "unit")
            want = _manual_cosine(p, r, idf)
            assert got == pytest.approx(want, abs=1e-12), (p, r)


def test_cosine_identity_and_symmetry():
    idf = _manual_idf(REGISTRY)
    _register_idf("unit2", idf)
    for r in REGISTRY:
        d, jac = _cosine_and_overlap(r, r, "unit2")
        assert d == pytest.approx(0.0, abs=1e-12)
        assert jac == 1.0
    a, b = REGISTRY[0], REGISTRY[1]
    assert _cosine_and_overlap(a, b, "unit2")[0] == pytest.approx(
        _cosine_and_overlap(b, a, "unit2")[0], abs=1e-12
    )


def test_oov_probe_is_rejected():
    """A probe sharing no vocabulary n-grams scores distance 1 (sklearn
    transform drops unseen terms → zero vector)."""
    idf = _manual_idf(["aaaa"])
    _register_idf("unit3", idf)
    # 'zxq...' shares no 2/3-grams with 'aaaa' but... 1-grams also differ
    d, jac = _cosine_and_overlap("zxqv", "aaaa", "unit3")
    assert d == 1.0 and jac == 0.0


def test_threshold_behavior_on_suffix_noise():
    """Suffix variants the normalizer can't strip stay within the 0.2
    acceptor; unrelated names stay far outside it."""
    idf = _manual_idf(REGISTRY)
    _register_idf("unit4", idf)
    close, _ = _cosine_and_overlap(
        "jpmorganchasebankna", "jpmorganchasebank", "unit4"
    )
    far, _ = _cosine_and_overlap("wellsfargobank", "bankofamerica", "unit4")
    assert close <= 0.2 < far


def test_jaro_winkler_known_values():
    assert jaro_winkler("martha", "marhta") == pytest.approx(0.9611, abs=1e-4)
    assert jaro_winkler("dixon", "dicksonx") == pytest.approx(0.8133, abs=1e-3)
    assert jaro_winkler("abc", "abc") == 1.0
    assert jaro_winkler("", "abc") == 0.0


def test_build_idf_matches_manual(spark):
    df = spark.createDataFrame([(n,) for n in REGISTRY], ["norm_name"])
    got = build_idf(df)
    want = _manual_idf(REGISTRY)
    assert set(got) == set(want)
    for g in want:
        assert got[g] == pytest.approx(want[g], abs=1e-12)


def test_pair_scorer_udf_end_to_end(spark):
    idf = _manual_idf(REGISTRY)
    scorer = make_scorer(spark, {"dnb": idf}, compute_jw=True)
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("jpmorganchasebank", "jpmorganchasebankna"),
         ("wellsfargobank", "bankofamerica")],
        ["a", "b"],
    )
    rows = df.withColumn("s", scorer(F.col("a"), F.col("b"))).select("s.*").collect()
    assert rows[0]["cos_dist"] <= 0.2
    assert rows[0]["jw_sim"] > 0.9
    assert rows[1]["cos_dist"] > 0.5
    assert rows[1]["jw_sim"] == 0.0  # gated: not computed for far pairs

def test_char_ngrams_col_parity(spark):
    """The Catalyst n-gram expression must be byte-identical to the Python
    kernel's char_ngrams (same strip regex, same 1/2/3-gram inventory and
    order) — build_idf counts documents with it, so any divergence skews
    every IDF weight."""
    from pyspark.sql import functions as F

    from gduns_name_match_spark.functions.similarity import (
        char_ngrams,
        char_ngrams_col,
    )

    names = [
        "jpmorganchasebank", "a", "", "ab", "first national, bank-of./x",
        "x BD y", None, "abc" * 30, "b.d-e/f,g", " BD",
        # raw-text cases: Java '.' excludes \n and Java \s is ASCII-only
        # unless the expression opts in — these pin the (?s)/(?U) flags
        "foo\nbar", "x BD tail", "a\nb\nc",
    ]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    rows = df.select(
        "name", char_ngrams_col(F.col("name")).alias("grams")
    ).collect()
    for r in rows:
        assert list(r["grams"]) == char_ngrams(r["name"] or ""), r["name"]
