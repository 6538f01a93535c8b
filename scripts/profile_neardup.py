#!/usr/bin/env python
"""Per-stage attribution for the near-dup flagship (VERDICT r06 task 6).

MEASUREMENT ONLY — mirrors flagship_neardup/_neardup_components stage by
stage with driver-side perf marks around each materializing action, so the
85-120s wall at the 50k-doc mimic can be attributed (the cascade got this
treatment in round 6; entry() never had).

Usage: python scripts/profile_neardup.py [sf_dir] [reps]
"""
from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfmimic_50000"
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 2


def run_once(spark) -> dict:
    from pyspark.sql import functions as F

    from gduns_name_match_spark.functions.normalize import normalize_name_col as _norm
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
    from gduns_name_match_spark.plans.flagship import (
        _text_pair_halves,
        as_span_documents,
    )
    from gduns_name_match_spark.plans.pipeline import extract_name_mentions

    t = {}
    marks = [time.perf_counter()]

    def mark(name):
        now = time.perf_counter()
        t[name] = round(now - marks[0], 3)
        marks[0] = now

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    mentions = extract_name_mentions(as_span_documents(docs)).withColumn(
        "m_norm", _norm(F.col("raw_name"))
    ).persist()
    texts = mentions.select(F.col("m_norm").alias("t_norm")).distinct().persist()
    n_texts = texts.count()
    mark("mentions+texts")

    idf = build_idf(texts.withColumnRenamed("t_norm", "norm_name"), "norm_name")
    mark("build_idf")

    blocking = _text_pair_halves(texts)
    pairs = blocking.pairs
    n_pairs = pairs.count()
    mark("blocking_pairs")

    # natural block-join order, no probe repartition (round 7)
    scored = score_pairs(
        pairs, make_scorer(spark, {"texts": idf}), partition_by_probe=False
    )
    half = (
        scored.filter(F.col("cos_dist") <= THRESHOLD)
        .select("m_norm", "r_norm", "cos_dist")
        .localCheckpoint()
    )
    mark("score+accept")
    blocking.release()

    nonself = half.unionByName(
        half.select(
            F.col("r_norm").alias("m_norm"), F.col("m_norm").alias("r_norm"),
            "cos_dist",
        )
    )
    edges = half.select(F.col("m_norm").alias("src"), F.col("r_norm").alias("dst"))
    comp = connected_components(edges)
    n_comp = comp.count()
    mark("connected_components")

    with_comp = attach_components(
        texts.withColumnRenamed("t_norm", "node"), comp, "node"
    )
    best = best_match_per_probe(nonself, "m_norm").select(
        F.col("m_norm").alias("node"),
        F.col("r_norm").alias("best_name"),
        F.col("cos_dist").alias("best_dist"),
    )
    resolved = with_comp.join(best, "node", "left").select(
        F.col("node").alias("t_norm"), "component", "best_name", "best_dist"
    )
    out = mentions.join(resolved, mentions.m_norm == resolved.t_norm).select(
        "mention_id", "doc_id", "raw_name", "best_name", "best_dist",
        F.abs(F.xxhash64("component")).alias("gdun"),
        F.when(F.col("best_name").isNull(), F.lit("unique"))
        .when(F.col("m_norm") == F.col("component"), F.lit("neardup_rep"))
        .otherwise(F.lit("neardup_merged"))
        .alias("match_status"),
    )
    out = out.localCheckpoint()
    n_out = out.count()
    mark("attach+final")
    texts.unpersist()
    mentions.unpersist()
    t["_counts"] = {"texts": n_texts, "pairs": n_pairs, "comp": n_comp, "out": n_out}
    return t


def main():
    from gduns_name_match_spark.session import get_spark

    spark = get_spark(app_name="profile-neardup", cores=32)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for rep in range(REPS):
        t0 = time.perf_counter()
        t = run_once(spark)
        wall = round(time.perf_counter() - t0, 3)
        print(f"rep{rep} wall={wall} stages={t}", flush=True)
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
