"""Scale-guard regression tests: the degenerate-key paths that explode at
100 TB must stay linear/bounded at any size (VERDICT r1 'What's wrong' #2/#4).

* anchor star edges — a k-doc mega-anchor must produce exactly k-1 edges,
  never the all-pairs k²/2 join;
* df-capped + salted shingle join — one boilerplate shingle shared by 1k docs
  must not produce ~500k candidate pairs;
* embedding top-k — the broadcast must be on the probe side, never the corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_anchor_star_edges_linear(spark):
    from gduns_name_match_spark.plans.flagship import anchor_star_edges

    k = 1000
    matched = spark.createDataFrame(
        [(f"doc{i:05d}", 42) for i in range(k)] + [("docX", 7), ("docY", 7)],
        "doc_id string, anchor long",
    )
    edges = anchor_star_edges(matched).collect()
    # k-1 edges for the mega-anchor, 1 for the small one — O(k), not k²/2
    assert len(edges) == (k - 1) + 1
    hubs = {r["dst"] for r in edges}
    assert hubs == {"doc00000", "docX"}


def test_anchor_star_edges_same_components(spark):
    """Star construction yields the same connected components as all-pairs."""
    from gduns_name_match_spark.operators.cluster import (
        attach_components,
        connected_components,
    )
    from gduns_name_match_spark.plans.flagship import anchor_star_edges

    # doc c is in two anchors → bridges them into one component
    rows = [
        ("a", 1), ("b", 1), ("c", 1),
        ("c", 2), ("d", 2),
        ("e", 3),
    ]
    matched = spark.createDataFrame(rows, "doc_id string, anchor long")
    comp = connected_components(anchor_star_edges(matched))
    out = attach_components(
        matched.select("doc_id").distinct(), comp, "doc_id"
    ).collect()
    by_doc = {r["doc_id"]: r["component"] for r in out}
    assert by_doc["a"] == by_doc["b"] == by_doc["c"] == by_doc["d"]
    assert by_doc["e"] != by_doc["a"]  # singleton stays its own component


def test_hot_shingle_capped(spark):
    """1k docs sharing one boilerplate shingle: the df cap drops it, so no
    quadratic pair blow-up; genuinely-similar docs still pair up."""
    from gduns_name_match_spark.operators.training import ngram_jaccard_pairs

    rows = []
    for i in range(1000):
        rows.append((f"doc{i:04d}", "boiler plate footer"))   # hot: df=1000
        rows.append((f"doc{i:04d}", f"unique shingle {i}"))
    # one true near-dup pair sharing two cold shingles
    rows += [("dupA", "real shared one"), ("dupA", "real shared two")]
    rows += [("dupB", "real shared one"), ("dupB", "real shared two")]
    sh = spark.createDataFrame(rows, "doc_id string, shingle string")
    pairs = ngram_jaccard_pairs(sh, max_df=100, hot_df=8, n_salt=4).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {("dupA", "dupB")}
    assert pairs[0]["jaccard"] == 1.0


def test_salted_shingle_join_exact(spark):
    """Salting must not change results: force every shingle hot and compare
    against the unsalted (hot_df=∞) run."""
    from gduns_name_match_spark.operators.training import ngram_jaccard_pairs

    rows = []
    for i in range(40):
        rows += [(f"d{i:02d}", f"common {i % 4}"), (f"d{i:02d}", f"own {i}")]
    sh = spark.createDataFrame(rows, "doc_id string, shingle string")
    salted = ngram_jaccard_pairs(sh, max_df=10_000, hot_df=0, n_salt=4)
    plain = ngram_jaccard_pairs(sh, max_df=10_000, hot_df=10_000, n_salt=4)
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_embedding_topk_broadcasts_probes(spark, tmp_path):
    """The physical plan must broadcast the probe side (bounded) and keep the
    corpus distributed (VERDICT r1 'What's wrong' #5)."""
    from gduns_name_match_spark.operators.training import q_embedding_topk

    emb = spark.createDataFrame(
        [(i, [float(i % 7) - 3.0, float(i % 5) - 2.0, 1.0]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    emb.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    df = q_embedding_topk(spark, str(tmp_path))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # result sanity: 20 probes x 5 neighbors
    assert df.count() == 100


def test_long_string_band_blocking(spark):
    """Long (prose-length) strings must block on LSH band keys, never on the
    first-word-determined phonetic codes; a mid-string edit must still
    co-block the near-duplicate."""
    from gduns_name_match_spark.operators.blocking import block_keys_col

    base = "thequickbrownfoxjumpsoverthelazydogandkeepsrunningfarbeyondthefence" * 3
    sub = base[:100] + "x" + base[101:]     # substitution mid-string
    ins = base[:150] + "q" + base[150:]     # insertion shifts all positions
    df = spark.createDataFrame([(base,), (sub,), (ins,), (base,)], "name string")
    rows = [set(r["k"]) for r in df.select(block_keys_col(F.col("name")).alias("k")).collect()]
    assert rows[0] == rows[3]                      # deterministic
    assert rows[0] & rows[1], "substitution variant not co-blocked"
    assert rows[0] & rows[2], "insertion variant not co-blocked"
    for ks in rows:
        assert all(not k.startswith(("s:", "m:", "p:")) for k in ks), ks


def test_embedding_neardup_pairs_finds_planted_dups(spark, tmp_path):
    """The driver table has no >=0.99-cosine pairs (random near-orthogonal
    vectors), so its oracle row is 0=0; this plants real duplicates and
    asserts the bucket-join operator finds exactly them."""
    from gduns_name_match_spark.operators.training import q_embedding_neardup_pairs

    base = [float(i % 7) - 3.0 for i in range(32)]
    near = list(base); near[5] += 0.01          # same bucket, cos ~ 1
    far = [(-1.0) ** i * (i % 5 + 1.0) for i in range(32)]
    rows = [(0, base), (1, near), (2, base), (3, far)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        (r["vec_a"], r["vec_b"])
        for r in q_embedding_neardup_pairs(spark, str(tmp_path)).collect()
    }
    assert got == {(0, 1), (0, 2), (1, 2)}


def test_minhash_banding_sparse_on_small_vocab(spark):
    """Round-2's single-row bands had P(band collision) = J, so a
    small-vocabulary corpus (word-salad docs with pairwise J ~ 0.15) put a
    large fraction of all pairs in the candidate set; r=2 rows per band
    squares J and the candidate set must stay well below all-pairs."""
    import hashlib

    from gduns_name_match_spark.operators.training import minhash_candidates

    vocab = [f"w{v}" for v in range(48)]
    rows = []
    n_docs = 60
    for d in range(n_docs):
        # deterministic pseudo-random 12-of-48 subset per doc (E[J] ~ 0.14)
        ranked = sorted(
            vocab,
            key=lambda w, d=d: hashlib.md5(f"{d}:{w}".encode()).hexdigest(),
        )
        rows += [(f"doc{d:03d}", w) for w in ranked[:12]]
    sh = spark.createDataFrame(rows, "doc_id string, shingle string")
    n_cand = minhash_candidates(sh).count()
    all_pairs = n_docs * (n_docs - 1) // 2
    assert n_cand < 0.3 * all_pairs, (
        f"{n_cand}/{all_pairs} candidates — banding degenerated to all-pairs"
    )


def test_minhash_bands_catch_true_neardups(spark):
    """Recall side of the banding change: J >= 0.5 pairs must still surface
    as candidates (P ~ 0.90 per the S-curve; these planted pairs are J ~ 0.8
    where P > 0.999)."""
    from gduns_name_match_spark.operators.training import minhash_candidates

    rows = []
    for d in ("dupA", "dupB"):
        rows += [(d, f"shared {i}") for i in range(20)]
    rows += [("dupA", "own a1"), ("dupB", "own b1"), ("dupB", "own b2")]
    rows += [("far", f"elsewhere {i}") for i in range(20)]
    sh = spark.createDataFrame(rows, "doc_id string, shingle string")
    got = {(r["doc_a"], r["doc_b"]) for r in minhash_candidates(sh).collect()}
    assert ("dupA", "dupB") in got
    assert not any("far" in p for pair in got for p in pair)


def test_pair_volume_cap_drops_degenerate_key(spark):
    """A key passing the row cap can still explode as pairs (30k reg rows x
    30k probes ~ 10^9): the reg_rows*probe_rows guard must drop it (logged),
    while pairs via other keys survive."""
    from gduns_name_match_spark.operators.blocking import candidate_pairs

    import pyspark.sql.functions as F  # noqa: F401

    probes = spark.createDataFrame(
        [(f"p{i}", "mega" if i else "rare", ["mega", "rare"] if not i else ["mega"])
         for i in range(500)],
        "m_norm string, block_key string, all_keys array<string>",
    )
    regs = spark.createDataFrame(
        [(f"r{i}", "mega" if i else "rare", ["mega", "rare"] if not i else ["mega"])
         for i in range(500)],
        "r_norm string, block_key string, all_keys array<string>",
    )
    pairs, stats = candidate_pairs(
        probes, regs, probe_id="m_norm", registry_id="r_norm",
        max_key_pairs=10_000, n_salt=4,
    )
    srows = {r["block_key"]: r for r in stats.collect()}
    assert srows["mega"]["is_dropped"]            # 500*500 > 10k → dropped
    assert not srows["rare"]["is_dropped"]
    got = pairs.select("m_norm", "r_norm").collect()
    assert {(r["m_norm"], r["r_norm"]) for r in got} == {("p0", "r0")}


def test_neardup_clusters_link_true_neardups(spark, tmp_path):
    """Near-duplicates (not just exact copies) must land in one cluster:
    round-1's anchor construction let every doc match ITSELF in the
    distinct-text registry, so only exact dups ever clustered."""
    from gduns_name_match_spark.plans.flagship import er_neardup_clusters

    base = ("collateral filing statement for equipment inventory and proceeds "
            "recorded under amendment schedule seven annex four")
    near = base.replace("seven", "nine")          # one-word edit
    far = "completely different unrelated text about gardening and tulips blooming"
    rows = [("a", base, "en"), ("b", near, "en"), ("c", base, "en"), ("d", far, "en")]
    spark.createDataFrame(rows, "doc_id string, text string, lang string") \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r for r in er_neardup_clusters(spark, str(tmp_path)).collect()}
    assert out["a"]["cluster_id"] == out["b"]["cluster_id"] == out["c"]["cluster_id"]
    assert out["a"]["cluster_size"] == 3
    assert out["d"]["cluster_id"] != out["a"]["cluster_id"]
    assert out["d"]["cluster_size"] == 1


def test_flagship_entry_resolves_neardups(spark, tmp_path):
    """The driver's entry() itself must merge near-duplicates (VERDICT r02
    'What's wrong' #1): round 2's registry-of-own-texts made every probe's
    best match ITSELF at cos 0, so decisions were an identity map. Planted
    one-word-edit near-dups must now share a gdun through flagship_neardup,
    with the self-pair excluded from the diagnostics."""
    from gduns_name_match_spark.plans.flagship import flagship_neardup

    base = ("collateral filing statement for equipment inventory and proceeds "
            "recorded under amendment schedule seven annex four")
    near = base.replace("seven", "nine")          # one-word edit
    far = "completely different unrelated text about gardening and tulips blooming"
    rows = [("a", base, "en"), ("b", near, "en"), ("c", base, "en"), ("d", far, "en")]
    spark.createDataFrame(rows, "doc_id string, text string, lang string") \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r for r in flagship_neardup(spark, str(tmp_path)).collect()}
    # near-dups AND exact dups share the representative id
    assert out["a"]["gdun"] == out["b"]["gdun"] == out["c"]["gdun"]
    assert out["d"]["gdun"] != out["a"]["gdun"]
    # best match is a real NON-SELF neighbor, not the probe itself: doc a's
    # closest accepted neighbor is the 'nine' variant at a positive distance
    assert "nine" in out["a"]["best_name"]
    assert out["a"]["best_dist"] > 0.0
    assert out["d"]["match_status"] == "unique"
    assert out["d"]["best_name"] is None
    statuses = {out[k]["match_status"] for k in ("a", "b", "c")}
    assert statuses <= {"neardup_rep", "neardup_merged"} and "neardup_rep" in statuses


def test_group_refit_cap_on_mega_fanout(spark):
    """VERDICT r03 task 4: a franchise-style matched name with a huge
    registry fan-out must NOT land as one pandas group on one worker. Groups
    over the cap skip the applyInPandas re-fit (flagged refit_capped=True,
    logged executor-side), degrade to no-city-tiebreak, and the decision
    still completes; small groups in the same frame keep the re-fit path."""
    from pyspark.sql import functions as F

    from gduns_name_match_spark.operators import resolve as rz

    n = 2_000
    mega = spark.range(n).select(
        F.col("id").alias("duns_num"),
        (F.col("id") % 3 + 100).alias("gl_ult_dun"),
        F.lit("megafranchise").alias("norm_name"),
        F.concat(F.lit("city"), F.col("id") % 50).alias("norm_city"),
        F.lit("TX").alias("st"),
    )
    small = spark.createDataFrame(
        [(90_001, 500, "tinybank", "omaha", "NE")],
        "duns_num long, gl_ult_dun long, norm_name string, norm_city string, st string",
    )
    reg = mega.unionByName(small)
    best = spark.createDataFrame(
        [
            ("p1", "megafranchise", 0.0, "city7", ""),
            ("p2", "tinybank", 0.0, "omaha", ""),
        ],
        "probe_key string, best_name string, best_dist double, m_city string, m_state string",
    )
    import unittest.mock as mock

    with mock.patch.object(rz, "MAX_REFIT_GROUP_ROWS", 500):
        out = {
            r["probe_key"]: r
            for r in rz.resolve_gdun(
                best, reg, probe_id="probe_key", probe_city="m_city",
                probe_state="m_state", group_refit=True, geo_mode="city",
            ).collect()
        }
    p1 = out["p1"]
    assert p1["refit_capped"] is True
    # no city tie-break for the capped group: 3 gduns, no geo → manual
    assert p1["match_status"] == "manual"
    p2 = out["p2"]
    assert p2["refit_capped"] is False
    assert p2["gdun"] == 500 and p2["match_status"] == "matched_city_tiebreak"


def test_flagship_entries_release_caches(spark, tmp_path, monkeypatch):
    """Repeated flagship invocations must not accumulate persisted frames
    (VERDICT r03 'What's wrong' #1: flagship_neardup leaked `texts`,
    er_neardup_clusters leaked `docs`+`texts`). Every DataFrame persisted
    during the call must be unpersisted by the time the entry returns —
    the outputs are localCheckpoint-materialized first, so releasing the
    inputs cannot trigger recomputation."""
    # patch the CONCRETE class: in PySpark 4 `pyspark.sql.DataFrame` is the
    # abstract base and runtime frames are pyspark.sql.classic.dataframe
    # instances — patching the base intercepts nothing (a vacuously-green
    # census; round 5 added the `tracked` non-empty assert that caught it)
    from pyspark.sql.classic.dataframe import DataFrame

    from gduns_name_match_spark.plans.flagship import (
        er_neardup_clusters,
        flagship_neardup,
    )

    rows = [
        ("a", "collateral filing statement for equipment seven", "en"),
        ("b", "collateral filing statement for equipment nine", "en"),
        ("c", "unrelated gardening text about tulips", "en"),
    ]
    spark.createDataFrame(rows, "doc_id string, text string, lang string") \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    tracked: list = []
    orig_persist = DataFrame.persist

    def tracking_persist(self, *a, **k):
        out = orig_persist(self, *a, **k)
        tracked.append(out)
        return out

    monkeypatch.setattr(DataFrame, "persist", tracking_persist)
    for _ in range(2):
        flagship_neardup(spark, str(tmp_path)).collect()
        er_neardup_clusters(spark, str(tmp_path)).collect()
    assert tracked, "census saw no persists — the monkeypatch is dead"
    leaked = [df for df in tracked if df.is_cached]
    assert not leaked, f"{len(leaked)}/{len(tracked)} frames left cached"


def test_cascade_entries_release_caches(spark, monkeypatch):
    """VERDICT r04 'What's wrong' #1: run_cascade persisted 8 frames (m,
    dnb, name_parents, reg_names, targets, mb, fdic_gate, pgate) and
    released none — er_full_cascade / spnv_match_raw / the driver bench
    leaked them all per invocation; mna_transitions leaked its dnb frame.
    Both entries must now localCheckpoint their output and unpersist every
    frame they cached (same census as the flagship entries)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from gduns_name_match_spark.plans.flagship import (
        er_full_cascade,
        er_mna_transitions,
    )

    tracked: list = []
    orig_persist = DataFrame.persist

    def tracking_persist(self, *a, **k):
        out = orig_persist(self, *a, **k)
        tracked.append(out)
        return out

    monkeypatch.setattr(DataFrame, "persist", tracking_persist)
    for _ in range(2):
        er_full_cascade(spark, "unused").count()
        er_mna_transitions(spark, "unused").count()
    assert tracked, "census saw no persists — the monkeypatch is dead"
    leaked = [df for df in tracked if df.is_cached]
    assert not leaked, f"{len(leaked)}/{len(tracked)} frames left cached"


def test_ivf_kmeans_centroids_beat_untrained_on_planted_clusters(spark, tmp_path):
    """VERDICT r02 next-round #10: trained IVF centroids on planted clusters.

    Fixture: 4 well-separated clusters in 16-dim space, with the FIRST 8
    vec_ids (== the untrained variant's centroids) all drawn from cluster 0.
    Untrained cells then tile only cluster 0's neighborhood and members of
    different planted clusters get thrown together in shared cells — every
    cross-cluster cell-mate is a candidate the exact rescore pays for but
    that can never be a true neighbor. Spherical k-means on the same data
    recovers the real cluster structure: every cell is cluster-PURE (the
    optimal tiling here — a tight cluster of mutual neighbors cannot be
    split without recall loss), while recall through the full Spark path
    stays high."""
    import numpy as np

    from gduns_name_match_spark.operators.training import (
        q_embedding_ivf_kmeans_topk,
    )

    rng = np.random.default_rng(11)
    dim, n = 16, 400
    basis = np.linalg.qr(rng.normal(size=(dim, 4)))[0].T  # 4 orthonormal means
    cluster = np.array([0] * 8 + [(i % 4) for i in range(n - 8)])
    X = basis[cluster] + rng.normal(scale=0.08, size=(n, dim))
    X /= np.linalg.norm(X, axis=1, keepdims=True)

    spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    # brute-force truth (float32 to match the parquet round-trip)
    Xf = X.astype(np.float32).astype(np.float64)
    Xf /= np.linalg.norm(Xf, axis=1, keepdims=True)
    sims = Xf @ Xf.T
    np.fill_diagonal(sims, -2.0)
    truth = {p: set(np.argsort(-sims[p])[:3]) for p in range(20)}

    def recall(df):
        got: dict[int, set] = {}
        for r in df.collect():
            got.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
        hit = sum(len(got.get(p, set()) & truth[p]) for p in truth)
        return hit / (3 * len(truth))

    r_kmeans = recall(q_embedding_ivf_kmeans_topk(spark, str(tmp_path)))
    assert r_kmeans >= 0.9, r_kmeans

    # cell purity, computed with the operator's own training function: the
    # untrained tiling mixes planted clusters in several cells; the trained
    # tiling mixes none (wasted-candidate count drops to zero)
    from gduns_name_match_spark.operators.training import (
        kmeans_centroids_spherical,
    )

    def mixed_cells(C):
        a = (Xf @ np.asarray(C).T).argmax(axis=1)
        return sum(
            1
            for j in range(len(C))
            if len(set(cluster[a == j].tolist())) > 1
        )

    n_mixed_untrained = mixed_cells(Xf[:8])
    n_mixed_kmeans = mixed_cells(kmeans_centroids_spherical(Xf, 8))
    assert n_mixed_kmeans == 0, n_mixed_kmeans
    assert n_mixed_untrained > 0, n_mixed_untrained


def test_zero_token_documents_do_not_abort_text_ops(spark, tmp_path):
    """ANSI-mode division guard (round-3 review finding, reproduced live):
    a whitespace-only or empty document must flow through the quality /
    langid / curation operators as NULL-ratio rows, not abort the whole job
    with DIVIDE_BY_ZERO — every real crawl contains such docs."""
    from gduns_name_match_spark.operators.training import (
        q_corpus_curation,
        q_langid_heuristic,
        q_text_quality,
    )

    rows = [
        (1, "the bank of the west", "en", "crawl", 20),
        (2, "   ", "en", "crawl", 3),
        (3, "", "en", "crawl", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    quality = q_text_quality(spark, str(tmp_path)).collect()
    assert len(quality) == 3  # empty docs present, ratios NULL
    empty = {r["doc_id"]: r for r in quality}
    assert empty[2]["stopword_ratio"] is None
    assert empty[3]["mean_token_len"] is None

    langid = q_langid_heuristic(spark, str(tmp_path)).collect()
    assert sum(r["n"] for r in langid) == 3  # empty docs vote 'other'

    curated = q_corpus_curation(spark, str(tmp_path)).collect()
    assert [r["doc_id"] for r in curated] == [1]  # gates drop empties quietly


def test_jaccard_pigeonhole_exact_vs_bruteforce(spark):
    """Round-7 pigeonhole candidate rewrite of ngram_jaccard_pairs: the
    output must be bit-identical to a brute-force all-pairs Jaccard on an
    adversarial corpus — tier-boundary sizes (n = 4, 7, 8, 9, 16), tiny docs
    (n <= 3, the singleton leg), exactly-J=0.5 pairs, and pairs whose sizes
    straddle a power-of-two tier boundary at the 2x length-filter edge."""
    from itertools import combinations

    from gduns_name_match_spark.operators.training import ngram_jaccard_pairs

    docs = {
        # tiny docs (singleton leg)
        "t1": {"a"}, "t2": {"a"}, "t3": {"a", "b"}, "t4": {"a", "b", "c"},
        # tier boundaries
        "p4": {f"w{i}" for i in range(4)},
        "p7": {f"w{i}" for i in range(7)},
        "p8": {f"w{i}" for i in range(8)},          # vs p4: I=4,U=8 → J=0.5
        "p9": {f"w{i}" for i in range(9)},
        "p16": {f"w{i}" for i in range(16)},        # vs p8: J=0.5 at 2x size
        # J just below 0.5: I=7, U=15 → 0.4667
        "q15": {f"w{i}" for i in range(1, 8)} | {f"x{i}" for i in range(8)},
        # big near-identical pair across a tier boundary (15 vs 17)
        "r15": {f"y{i}" for i in range(15)},
        "r17": {f"y{i}" for i in range(15)} | {"z1", "z2"},
    }
    rows = [(d, s) for d, ss in docs.items() for s in ss]
    sh = spark.createDataFrame(rows, "doc_id string, shingle string")
    got = {tuple(r) for r in ngram_jaccard_pairs(sh, max_df=1000).collect()}
    want = set()
    for a, b in combinations(sorted(docs), 2):
        i = len(docs[a] & docs[b])
        j = round(i / len(docs[a] | docs[b]), 4)
        if j >= 0.5:
            want.add((a, b, j))
    assert got == want, (sorted(got - want), sorted(want - got))


def test_jaccard_df_cap_still_defines_result(spark):
    """The df cap is SEMANTIC (the oracle's shingle space): after the
    pigeonhole rewrite, a capped shingle must still be excluded from both
    candidate generation and the verify intersection/sizes."""
    from gduns_name_match_spark.operators.training import ngram_jaccard_pairs

    rows = []
    for i in range(10):
        rows.append((f"d{i}", "hot"))             # df=10 > max_df=5 → capped
        rows.append((f"d{i}", f"own{i}"))
    rows += [("e1", "s1"), ("e1", "s2"), ("e2", "s1"), ("e2", "s2")]
    sh = spark.createDataFrame(rows, "doc_id string, shingle string")
    got = {tuple(r) for r in ngram_jaccard_pairs(sh, max_df=5).collect()}
    # 'hot' removed → d-docs have only their own{i} → no pairs; e1/e2 J=1
    assert got == {("e1", "e2", 1.0)}


def test_mega_block_salted_complete_and_not_dropped(spark):
    """Round-7 skew evidence (VERDICT r06 task 2): a 'firstnationalbank'-
    style mega-block at ~100x the median block size must be SALTED (spread
    over shards), never dropped, and candidate generation must stay exact —
    every probe in the mega-block still meets every registry row it shares
    the key with, exactly once."""
    from pyspark.sql import functions as F

    from gduns_name_match_spark.operators.blocking import (
        candidate_pairs,
        with_block_keys,
    )

    # median block ~2 rows (unique names); mega block = 200 rows
    mega = [(f"firstnationalbankof{c:03d}",) for c in range(200)]
    background = [(f"smallco{i:04d}",) for i in range(200)]
    reg = spark.createDataFrame(mega + background, "r_norm string")
    probes = spark.createDataFrame(
        [(n.replace("bank", "bankk"),) for (n,) in mega[:50]]
        + background[:50], "m_norm string",
    )
    res = candidate_pairs(
        with_block_keys(probes, "m_norm"),
        with_block_keys(reg, "r_norm"),
        probe_id="m_norm", registry_id="r_norm",
        hot_key_threshold=100, n_salt=8,
    )
    stats = {r["block_key"]: r for r in res.stats.collect()}
    hot = [k for k, r in stats.items() if r["is_hot"]]
    dropped = [k for k, r in stats.items() if r["is_dropped"]]
    assert hot, "the 200-row mega-block key must be flagged hot (salted)"
    assert not dropped, f"nothing is over the caps, yet dropped: {dropped}"
    # exactness under salting: each probe pairs with each registry row
    # sharing a key exactly ONCE (min-shared-key ownership, no dupes)
    pairs = res.pairs.groupBy("m_norm", "r_norm").count()
    assert pairs.filter(F.col("count") > 1).isEmpty()
    # the mega-block probes must reach the full block: prefix 'firstnat...'
    # puts all 200 mega registry rows in one p: block
    fan = (
        res.pairs.filter(F.col("m_norm").startswith("firstnat"))
        .groupBy("m_norm").count().agg(F.min("count")).collect()[0][0]
    )
    assert fan == 200, f"salted mega-block lost pairs: min fan-out {fan}"
    res.release()


def test_score_pairs_partitioning_invariant(spark):
    """partition_by_probe=False (the round-7 block-locality scoring order)
    must accept the IDENTICAL (probe, name, cos_dist) set as the
    probe-partitioned plan — the partitioning choice is an execution detail,
    never a semantic one. Mixed-length corpus so both the short-key and the
    band-key blocking regimes are exercised."""
    from pyspark.sql import functions as F

    from gduns_name_match_spark.functions.similarity import (
        build_idf,
        make_scorer,
        score_pairs,
    )
    from gduns_name_match_spark.operators.resolve import THRESHOLD
    from gduns_name_match_spark.plans.flagship import _text_pair_halves

    base = [
        "firstnationalbank", "firstnationalbankna", "wellsfargobank",
        "citizensstatebank", "citizensstatebankna",
    ]
    prose = [
        "the quick brown fox jumps over the lazy dog near the river bank "
        * 3,
        "the quick brown fox jumps over the lazy dog near the river bend "
        * 3,
        "a completely different long document about spark shuffle tuning "
        * 3,
    ]
    texts = spark.createDataFrame(
        [(t.replace(" ", ""),) for t in base + prose], ["t_norm"]
    )
    idf = build_idf(texts.withColumnRenamed("t_norm", "norm_name"), "norm_name")

    def run(partitioned: bool):
        blocking = _text_pair_halves(texts)
        acc = score_pairs(
            blocking.pairs,
            make_scorer(spark, {"texts": idf}),
            partition_by_probe=partitioned,
        ).filter(F.col("cos_dist") <= THRESHOLD)
        rows = {(r["m_norm"], r["r_norm"], r["cos_dist"]) for r in acc.collect()}
        blocking.release()
        return rows

    a, b = run(True), run(False)
    assert a == b and len(a) > 0
