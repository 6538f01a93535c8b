"""Flagship queries for the driver contract (__spark_entry__.py).

`flagship_neardup` runs the full ER pipeline — spans extraction, blocking,
Arrow-batched scoring, resolution — over the driver's documents table wrapped
into the BASELINE.json input_hint shape (doc_id, spans:array<struct<kind,
text,media_ref,offset>>), resolving every document to its near-duplicate
cluster representative. `er_fixture_decisions` runs the GDUN match on the
deterministic synthetic corpus (rows-only correctness entry; the F1 gate for
it lives in tests/test_pipeline_f1.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gduns_name_match_spark.functions.normalize import normalize_name_col as _norm
from gduns_name_match_spark.plans.pipeline import (
    extract_name_mentions,
    match_documents,
)
from gduns_name_match_spark.sources import fixtures as fx

DECISION_COLS = [
    "mention_id",
    "doc_id",
    "raw_name",
    "best_name",
    "best_dist",
    "gdun",
    "match_status",
]


def as_span_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Wrap a flat (doc_id, text) table into the input_hint spans shape."""
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("name").alias("kind"),
                F.col(text_col).cast("string").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )


def _text_pair_halves(texts: DataFrame):
    """Blocking candidates of the distinct-text table ``texts`` (``t_norm``)
    against itself, each unordered pair once (m_norm < r_norm), self-pairs
    never. Returns the candidate_pairs BlockingResult with its ``pairs``
    halved; release() it once the pairs are materialized."""
    from dataclasses import replace

    from gduns_name_match_spark.operators.blocking import (
        candidate_pairs,
        with_block_keys,
    )

    blocking = candidate_pairs(
        with_block_keys(texts.withColumnRenamed("t_norm", "m_norm"), "m_norm"),
        with_block_keys(texts.withColumnRenamed("t_norm", "r_norm"), "r_norm"),
        probe_id="m_norm",
        registry_id="r_norm",
        n_salt=4,
    )
    return replace(
        blocking, pairs=blocking.pairs.filter(F.col("m_norm") < F.col("r_norm"))
    )


def _neardup_components(spark: SparkSession, texts: DataFrame) -> DataFrame:
    """Shared near-dup core over a distinct normalized-text table ``texts``
    (single column ``t_norm``): one blocking + Arrow-scoring pass of the
    distinct texts against themselves, SELF-PAIRS EXCLUDED (with registry =
    the corpus's own texts every probe matches itself at cos 0, so an argmin
    without the exclusion is an identity map — the round-2 flagship trap),
    then large-star/small-star connected components over the accepted
    text↔text edges.

    Returns one row per distinct text: (t_norm, component, best_name,
    best_dist) where component is the cluster representative (min normalized
    text in the component — a real key, never a hashed one), and best_name/
    best_dist are the closest accepted NON-SELF neighbor (null for texts with
    no near-duplicate)."""
    from gduns_name_match_spark.functions.similarity import (
        build_idf,
        make_scorer,
        score_pairs,
    )
    from gduns_name_match_spark.operators.cluster import (
        attach_components,
        connected_components,
    )
    from gduns_name_match_spark.operators.resolve import (
        THRESHOLD,
        best_match_per_probe,
    )

    idf = build_idf(texts.withColumnRenamed("t_norm", "norm_name"), "norm_name")
    blocking = _text_pair_halves(texts)
    # probes and names are the SAME distinct-text set, so each unordered
    # pair is scored once (m < r) and mirrored below — half the Arrow-kernel
    # volume for an identical accepted set (cosine is symmetric: the kernel
    # orders the two vectors by length, so mirrored rows carry bit-identical
    # distances), and self-pairs never reach the kernel at all.
    # partition_by_probe=False: score in the block join's natural order —
    # prose vectors don't memoize globally, so block locality (+ the kernel's
    # in-batch memo) is what keeps construction off the per-pair path, and
    # the full text-pair stream never takes an extra exchange (round 7)
    scored = score_pairs(
        blocking.pairs, make_scorer(spark, {"texts": idf}), partition_by_probe=False
    )
    # materialize the half before mirroring: a lazy self-union would execute
    # the scoring subtree once per branch, un-doing the halving
    half = (
        scored.filter(F.col("cos_dist") <= THRESHOLD)
        .select("m_norm", "r_norm", "cos_dist")
        .localCheckpoint()
    )
    blocking.release()
    nonself = half.unionByName(
        half.select(
            F.col("r_norm").alias("m_norm"),
            F.col("m_norm").alias("r_norm"),
            "cos_dist",
        )
    )
    edges = half.select(F.col("m_norm").alias("src"), F.col("r_norm").alias("dst"))
    comp = connected_components(edges)
    with_comp = attach_components(
        texts.withColumnRenamed("t_norm", "node"), comp, "node"
    )
    best = best_match_per_probe(nonself, "m_norm").select(
        F.col("m_norm").alias("node"),
        F.col("r_norm").alias("best_name"),
        F.col("cos_dist").alias("best_dist"),
    )
    return with_comp.join(best, "node", "left").select(
        F.col("node").alias("t_norm"), "component", "best_name", "best_dist"
    )


def flagship_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate document resolution as entity resolution: every doc
    resolves to its near-dup cluster representative — exact duplicates share
    a normalized text (same node), near duplicates are linked by accepted
    (cos<=0.2) non-self pairs closed under connected components, and both
    end up with the same ``gdun`` (the component representative's id).

    Decision columns keep the ER vocabulary: best_name/best_dist are the
    closest non-self neighbor (diagnostic), gdun = abs(xxhash64(component
    representative text)), match_status ∈ {'unique' (no near-dup neighbor),
    'neardup_rep' (cluster representative), 'neardup_merged' (resolved to a
    different representative)}."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # persisted: the mention stream feeds BOTH the distinct-text derivation
    # and the final decision join — without the cache the posexplode +
    # ~20-pass normalize chain runs twice over every document (round 7)
    mentions = extract_name_mentions(as_span_documents(docs)).withColumn(
        "m_norm", _norm(F.col("raw_name"))
    ).persist()
    texts = mentions.select(F.col("m_norm").alias("t_norm")).distinct().persist()
    resolved = _neardup_components(spark, texts)
    out = mentions.join(
        resolved, mentions.m_norm == resolved.t_norm
    ).select(
        "mention_id",
        "doc_id",
        "raw_name",
        "best_name",
        "best_dist",
        # non-negative ids: the sentinel convention reserves gdun<=0
        F.abs(F.xxhash64("component")).alias("gdun"),
        F.when(F.col("best_name").isNull(), F.lit("unique"))
        .when(F.col("m_norm") == F.col("component"), F.lit("neardup_rep"))
        .otherwise(F.lit("neardup_merged"))
        .alias("match_status"),
    )
    # materialize, then release the cached texts frame: the returned (lazy)
    # plan must not keep a persisted input alive — a long-lived session
    # invoking this entry repeatedly would accumulate one cached frame per
    # call (the leak class VERDICT r03 flagged; test_scale_guards asserts the
    # persistent-RDD census is flat across invocations)
    out = out.localCheckpoint()
    texts.unpersist()
    mentions.unpersist()
    return out


def er_fixture_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
    """GDUN assignment over the deterministic synthetic corpus (sf_dir unused:
    the fixture is generated, per FIXTURES.md 'no external data')."""
    f = fx.generate(n_docs=120, seed=42)
    res = match_documents(
        spark, fx.documents_df(spark, f), fx.registry_df(spark, f), n_salt=4
    )
    return res.decisions.select(*DECISION_COLS)


def er_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-duplicate clusters over the testdata documents.

    Docs sharing a normalized text are exact duplicates (same node); the
    accepted (cos<=0.2, self excluded) text↔text pairs from one blocking+
    scoring pass are the near-dup edges, closed under large-star/small-star
    connected components. Output: one row per doc with its cluster id
    (the component's min normalized text — a real key, never a hashed one)
    and cluster size in docs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", _norm(F.col("text")).alias("t_norm")
    ).persist()
    texts = docs.select("t_norm").distinct().persist()
    out = _neardup_components(spark, texts)
    by_doc = docs.join(out, "t_norm").select("doc_id", "component")
    sizes = by_doc.groupBy("component").agg(F.count("*").alias("cluster_size"))
    clusters = by_doc.join(sizes, "component").select(
        "doc_id", F.col("component").alias("cluster_id"), "cluster_size"
    )
    # materialize before releasing the two cached inputs the plan reads from
    # (see flagship_neardup — same no-leak contract)
    clusters = clusters.localCheckpoint()
    docs.unpersist()
    texts.unpersist()
    return clusters


def anchor_star_edges(matched: DataFrame) -> DataFrame:
    """Star edges from (doc_id, anchor) membership: each doc connects to its
    anchor's minimum doc (the hub) — O(k) edges per k-doc anchor group, NOT
    the all-pairs k²/2 join (a boilerplate mega-cluster at 100 TB would
    otherwise explode before CC even starts). Same connected components.

    Node ids are the REAL doc_id strings (CC's large/small-star only needs an
    orderable type): hashed ids would silently merge unrelated docs on 64-bit
    birthday collisions at 10^12 docs."""
    hubs = matched.groupBy("anchor").agg(F.min("doc_id").alias("hub"))
    return (
        matched.join(hubs, "anchor")
        .filter(F.col("doc_id") != F.col("hub"))
        .select(F.col("doc_id").alias("src"), F.col("hub").alias("dst"))
        .distinct()
    )


def er_full_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
    """Full multi-registry decision cascade (plans/cascade.py) over the
    synthetic corpus: routing, FDIC/CU/events branches, all sentinels."""
    from gduns_name_match_spark.plans.cascade import run_cascade

    f = fx.generate(n_docs=120, seed=42)
    # city/state ride along so the driver entry exercises the reference's
    # city/state/HQ decision rungs, not just the name rung
    mentions = fx.truth_df(spark, f).select(
        "mention_id", "raw_name", "city", "state"
    )
    return run_cascade(spark, mentions, fx.registries(spark, f))


def er_mna_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
    """ongoing_mna end-to-end (plans/events.mna_transitions): unpivot each
    merger event's old/new names, resolve both sides against DNB in ONE match
    job, re-pivot into transition rows (reference ongoing_mna.py:611-648)."""
    from gduns_name_match_spark.plans.events import mna_transitions

    f = fx.generate(n_docs=120, seed=42)
    bank_events = fx.fdic_events_df(spark, f).select(
        F.col("fdic_id").cast("long").alias("event_id"), "name", "parent_name"
    )
    cu_events = fx.cu_mna_df(spark, f).select(
        F.col("old_ncua_id").cast("long").alias("event_id"), "name", "parent_name"
    )
    return mna_transitions(
        spark, bank_events.unionByName(cu_events), fx.registry_df(spark, f)
    )


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
    """Multimodal plumbing as a driver-visible entry: binary media payloads →
    mapInPandas feature extraction (deterministic fake kernel; the decode
    libs are absent in this sandbox, see sources/multimodal.py:27-32). The
    feature vector is emitted comma-joined so the driver's pandas
    canonicalizer can hash it."""
    from gduns_name_match_spark.sources import multimodal as mm

    feats = mm.extract_media_features(mm.synth_media(spark, n=256), fake=True)
    return feats.select(
        "media_ref",
        "modality",
        F.concat_ws(
            ",", F.transform("feature", lambda x: F.round(x, 4).cast("string"))
        ).alias("feature_csv"),
        "n_bytes",
        "digest",
    )


def spnv_match_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cascade output renamed into the reference's 42-column
    SPNV_MATCH_RAW insert shape (operators/compat.py)."""
    from gduns_name_match_spark.operators.compat import to_spnv_match_raw

    return to_spnv_match_raw(er_full_cascade(spark, sf_dir))


def spnv_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The -45000 multi-parent collapse wired onto the REAL pipeline output
    (VERDICT r04 task 7): cascade → SPNV_MATCH_RAW compat view →
    collapse_spnv_groups over its TEMP2='Y' groups — proving the
    TEMP1/TEMP2 plumbing end-to-end through the actual cascade, not just
    the synthetic frame the `spnv_collapse` oracle twin runs on
    (spnv_match_file2.py:55-131)."""
    from gduns_name_match_spark.operators.postprocess import (
        collapse_spnv_groups,
    )

    return collapse_spnv_groups(spnv_match_raw(spark, sf_dir))
