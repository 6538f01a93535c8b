#!/usr/bin/env python
"""Benchmark harness (driver contract): one JSON line on stdout.

  SPARK_GRAFT_SF_DIR  input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[k] parallelism (default 32)
  SPARK_GRAFT_BENCH_DOCS  fixture corpus size for the ER scoring bench
                          (default 20000 mentions-ish)

  python bench.py             # per-round driver mode: one JSON line
  python bench.py --scaling   # north-rule evidence: same job at local[8]
                              # and local[32]; appends results to BENCH.md

Headline metric: candidate-pairs-scored/sec through the full blocking →
salted join → Arrow-batched scoring path (BASELINE.json north_rule), plus
per-query wall times for representative operators on the testdata tables.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "20000"))
# VERSIONED cache dir: bump when the fixture generator or the pair pipeline
# changes shape — round 1's per-round bench silently reused a stale /tmp
# fixture from an earlier generator (1.36M pairs vs the 8.45M baseline
# corpus), making rounds incomparable
_FIXTURE_VERSION = "v4"  # v4: fixture generator draws mention geo + the
# multi-parent entity (round 4) — the rng stream shifted, so v3 corpora are
# not comparable. (v3: array_distinct'd long keys — the v2 pairs parquet
# carried ~4k duplicate pair copies from degenerate gmin==gmax keys.)
FIXTURE_DIR = Path(f"/tmp/gduns_bench_fixture_{_FIXTURE_VERSION}_{BENCH_DOCS}")


def prepare_fixture(spark) -> None:
    """Materialize the deterministic ER bench corpus as parquet once, so the
    timed job measures the pipeline, not driver-side data generation."""
    from gduns_name_match_spark.sources import fixtures as fx

    if (FIXTURE_DIR / "_SUCCESS_MARKER").exists():
        return
    f = fx.generate(
        n_docs=BENCH_DOCS, seed=42, n_groups=max(200, BENCH_DOCS // 5), typos=True
    )
    fx.documents_df(spark, f, partitions=max(CPUS, 8)).write.mode("overwrite").parquet(
        str(FIXTURE_DIR / "documents")
    )
    fx.registry_df(spark, f).write.mode("overwrite").parquet(
        str(FIXTURE_DIR / "registry")
    )
    (FIXTURE_DIR / "_SUCCESS_MARKER").touch()


def prepare_pairs(spark) -> None:
    """Materialize the candidate-pair table once (blocking + salted join +
    dedup), so the scaling metric times exactly SURVEY.md §4.2 stage 4 —
    the Arrow-batched scoring kernel — and nothing else."""
    from pyspark.sql import functions as F

    from gduns_name_match_spark.functions.normalize import normalize_name_col
    from gduns_name_match_spark.operators.blocking import (
        candidate_pairs,
        with_block_keys,
    )
    from gduns_name_match_spark.plans.pipeline import extract_name_mentions

    if (FIXTURE_DIR / "_PAIRS_MARKER").exists():
        return
    docs = spark.read.parquet(str(FIXTURE_DIR / "documents"))
    reg = spark.read.parquet(str(FIXTURE_DIR / "registry"))
    mentions = extract_name_mentions(docs).withColumn(
        "m_norm", normalize_name_col(F.col("raw_name"))
    )
    probes = mentions.select("m_norm").distinct()
    r_names = reg.select(
        normalize_name_col(F.col("company")).alias("r_norm")
    ).dropDuplicates(["r_norm"])
    pairs, _ = candidate_pairs(
        with_block_keys(probes, "m_norm"),
        with_block_keys(r_names, "r_norm"),
        probe_id="m_norm",
        registry_id="r_norm",
    )
    pairs.write.mode("overwrite").parquet(str(FIXTURE_DIR / "pairs"))
    # the per-registry IDF the scorer needs
    from gduns_name_match_spark.functions.similarity import build_idf

    import json as _json

    idf = build_idf(
        reg.select(normalize_name_col(F.col("company")).alias("norm_name")),
        "norm_name",
    )
    (FIXTURE_DIR / "idf.json").write_text(_json.dumps(idf))
    (FIXTURE_DIR / "_PAIRS_MARKER").touch()


def run_scoring_stage(spark, cpus: int) -> tuple[int, float, float]:
    """North-rule metric: candidate-pairs-scored/sec through the scoring
    kernel alone (pairs parquet → Arrow batches → struct scores → count)."""
    import json as _json

    from pyspark.sql import functions as F

    from gduns_name_match_spark.functions.similarity import make_scorer

    idf = {k: float(v) for k, v in _json.loads(
        (FIXTURE_DIR / "idf.json").read_text()
    ).items()}
    scorer = make_scorer(spark, {"dnb": idf}, compute_jw=True)
    # hash-partition + sort by probe name: consecutive rows share the probe
    # vector (L1-hot), halving per-pair memory traffic vs random order
    pairs = (
        spark.read.parquet(str(FIXTURE_DIR / "pairs"))
        .repartition(cpus * 2, "m_norm")
        .sortWithinPartitions("m_norm")
    )
    pairs = pairs.persist()
    n_pairs = pairs.count()  # warm the input cache outside the timed region
    # best-of-3: the sandbox VM shows 2-4x run-to-run variance at high
    # parallelism (noisy neighbors); min wall time is the honest capability
    dt = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        accepted = (
            pairs.withColumn("s", scorer(F.col("m_norm"), F.col("r_norm")))
            .filter(F.col("s.cos_dist") <= 0.2)
            .count()
        )
        dt = min(dt, time.perf_counter() - t0)
    pairs.unpersist()
    assert accepted > 0
    return n_pairs, dt, n_pairs / dt


def run_er_pipeline(spark) -> tuple[int, float, float, dict]:
    """Full pipeline wall time (block→pair→score→resolve): best-of-3 full
    re-runs — the e2e number was a single shot through round 2, which on this
    VM carries up to 7x noise (BENCH.md) and made the e2e scaling efficiency
    round-over-round comparison mostly weather."""
    from pyspark.sql import functions as F

    from gduns_name_match_spark.plans.pipeline import match_documents

    docs = spark.read.parquet(str(FIXTURE_DIR / "documents"))
    reg = spark.read.parquet(str(FIXTURE_DIR / "registry"))
    dt = float("inf")
    best_stages: dict = {}
    for _ in range(3):
        stages: dict = {}
        t0 = time.perf_counter()
        res = match_documents(spark, docs, reg, timings=stages)
        n_pairs = res.pairs_scored.count()
        t1 = time.perf_counter()
        n_decided = res.decisions.filter(F.col("gdun") > 0).count()
        # the decision attach (mention join + measured broadcast/shuffle of
        # the per-raw map) is the only action after decision_map
        stages["decision_attach"] = round(time.perf_counter() - t1, 3)
        wall = time.perf_counter() - t0
        if wall < dt:
            dt = wall
            best_stages = stages
        # release the pipeline's persisted frames between reps and before
        # returning: at 400k docs the scored-pairs cache otherwise poisons
        # every measurement that follows (r02 observed a 17x per-query
        # inflation from exactly this)
        res.release()
        spark.catalog.clearCache()
    assert n_decided > 0
    return n_pairs, dt, n_pairs / dt, best_stages


def run_queries(spark) -> "tuple[dict[str, float], dict[str, list[float]]]":
    """Representative operators timed on the driver's testdata tables.

    Per-query protocol (round 5; VERDICT r04 task 1b, both sanctioned
    options): one UNRECORDED warm-up run, then — even past the 30s budget —
    the MEDIAN of 3 recorded reps when 3 fit the budget, else the BEST of
    the 2 that ran. Round 3's budget rule left >30s ER entries single-shot,
    which let a degraded-host window (this VM is bimodal, BENCH.md) land a
    4.9x outlier as the official er_full_cascade number in BENCH_r04; and
    a median of exactly TWO reps is their mean, so one degraded rep still
    poisons long entries — min-of-2 is the robust estimator there (the VM
    only ever adds noise, never subtracts work). Recorded reps run against
    session state warmed by the discarded rep, which is the point — they
    measure steady-state plan cost, not first-touch parquet-footer and
    UDF-worker-spawn overheads that belong to the session, not the query.
    Per-rep walls are kept in the companion ``query_rep_walls`` diagnostic
    so a healthy/degraded spread is visible in the artifact rather than
    silently folded into one number. When recorded reps diverge >2x (the
    host flipped modes mid-sweep) one budget-exempt tie-breaker rep runs and
    the MIN is recorded — see the inline comment."""
    import statistics

    import __spark_entry__ as em

    names = [
        "broadcast_join_agg",
        "window_top1",
        "group_collapse",
        "capped_distinct_list",
        "dedup_exact",
        "minhash_lsh_pairs",
        "simhash",
        "embedding_topk",
        "embedding_lsh_topk",
        "text_quality",
        "er_neardup_decisions",
        "er_full_cascade",
        "ngram_jaccard_pairs",
    ]
    qs = em.queries()
    out: dict[str, float] = {}
    rep_log: dict[str, list[float]] = {}
    for name in names:
        qs[name](spark, SF_DIR).count()  # warm-up, unrecorded
        reps: list[float] = []
        budget = 30.0
        while len(reps) < 2 or (len(reps) < 3 and budget > 0):
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).count()
            dt = time.perf_counter() - t0
            reps.append(dt)
            budget -= dt
        # flapping-host tie-breaker: when the recorded reps of a long entry
        # disagree by >2x, the host flipped modes mid-sweep (this VM's
        # documented bimodal behavior) and neither rep is trustworthy alone —
        # one extra rep, budget-exempt, then record the MIN (the host only
        # ever ADDS noise, never subtracts work, so min over a divergent set
        # is the honest steady-state plan cost; a 2026-08-17 driver-mode run
        # recorded er_full_cascade reps [111.8, 194.2] from exactly this)
        if max(reps) > 2 * min(reps):
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).count()
            reps.append(time.perf_counter() - t0)
        stable = max(reps) <= 2 * min(reps)
        out[name] = round(
            statistics.median(reps) if len(reps) >= 3 and stable else min(reps),
            3,
        )
        rep_log[name] = [round(r, 3) for r in reps]
    return out, rep_log


def bench_once(cpus: int, with_queries: bool) -> dict:
    from gduns_name_match_spark.session import get_spark

    spark = get_spark(app_name=f"gduns-bench-{cpus}", cores=cpus)
    try:
        prepare_fixture(spark)
        prepare_pairs(spark)
        # warm the JVM and the Python workers (first pandas-UDF stage pays
        # worker spawn + imports) so the timed run measures steady state
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        _ = run_scoring_stage(spark, cpus)  # warm-up pass
        n_pairs, dt, pps = run_scoring_stage(spark, cpus)
        # e2e runs BEFORE the query sweep: in --scaling mode only the high
        # level ran queries, so its e2e executed on ~2 min of heap churn the
        # low level never saw — an asymmetry that systematically depressed
        # the e2e efficiency number (r02/early-r03). e2e releases its caches,
        # so the query timings that follow start clean.
        e2e_pairs, e2e_dt, e2e_pps, e2e_stages = run_er_pipeline(spark)
        queries, rep_walls = run_queries(spark) if with_queries else (None, None)
        result = {
            "cpus": cpus,
            "pairs_scored": n_pairs,
            "score_stage_seconds": round(dt, 3),
            "pairs_per_sec": round(pps, 1),
            "e2e_pairs": e2e_pairs,
            "er_seconds": round(e2e_dt, 3),
            "e2e_pairs_per_sec": round(e2e_pps, 1),
            "e2e_stage_seconds": e2e_stages,
        }
        if queries is not None:
            result["queries"] = queries
            # per-rep walls: makes a healthy/degraded host spread visible in
            # the artifact instead of hiding behind the median
            result["query_rep_walls"] = rep_walls
        return result
    finally:
        spark.stop()


def _bench_subprocess(cpus: int, with_queries: bool) -> dict:
    """Run one parallelism level in a FRESH python+JVM process.

    Running local[8] then local[32] inside one driver process re-uses the
    py4j JVM and a dirtied heap; the second run measured up to 15x slower
    scoring from allocator/page-cache fragmentation. Fresh process per level
    = clean comparison."""
    import subprocess

    cmd = [sys.executable, __file__, "--once", str(cpus)]
    if with_queries:
        cmd.append("--queries")
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    if "--once" in sys.argv:
        cpus = int(sys.argv[sys.argv.index("--once") + 1])
        print(json.dumps(bench_once(cpus, with_queries="--queries" in sys.argv)))
        return
    scaling = "--scaling" in sys.argv
    if scaling:
        n_low = int(os.environ.get("SPARK_GRAFT_SCALE_LOW", "8"))
        n_high = int(os.environ.get("SPARK_GRAFT_SCALE_HIGH", "32"))
        low = _bench_subprocess(n_low, with_queries=False)
        high = _bench_subprocess(n_high, with_queries=True)
        factor = n_high / n_low
        eff = high["pairs_per_sec"] / (factor * low["pairs_per_sec"])
        e2e_eff = high["e2e_pairs_per_sec"] / (factor * low["e2e_pairs_per_sec"])
        payload = {
            "metric": "candidate_pairs_scored_per_sec",
            "value": high["pairs_per_sec"],
            "unit": "sec",
            "queries": high["queries"],
            "query_rep_walls": high.get("query_rep_walls"),
            "sf": SF_DIR,
            "pairs_scored": high["pairs_scored"],
            "score_stage_seconds": high["score_stage_seconds"],
            "er_seconds": high["er_seconds"],
            "n_low": n_low,
            "n_high": n_high,
            "low_pairs_per_sec": low["pairs_per_sec"],
            "high_pairs_per_sec": high["pairs_per_sec"],
            "scaling_efficiency": round(eff, 3),
            "e2e_scaling_efficiency": round(e2e_eff, 3),
            "e2e_stage_seconds_low": low["e2e_stage_seconds"],
            "e2e_stage_seconds_high": high["e2e_stage_seconds"],
        }
        with open("BENCH.md", "a") as fh:
            fh.write(
                f"| {time.strftime('%Y-%m-%d %H:%M:%S')} | {BENCH_DOCS} docs, "
                f"{high['pairs_scored']} pairs | "
                f"local[{n_low}]: {low['pairs_per_sec']:.0f} p/s | "
                f"local[{n_high}]: {high['pairs_per_sec']:.0f} p/s | "
                f"score-stage eff {eff:.3f}; e2e eff {e2e_eff:.3f} |\n"
            )
            # per-stage attribution: which pipeline actions scale with cores
            # and which flat-line (VERDICT r04 task 1 evidence)
            stages = sorted(
                set(low["e2e_stage_seconds"]) | set(high["e2e_stage_seconds"])
            )
            fh.write(
                f"\nPer-stage e2e wall (s), {BENCH_DOCS} docs, best-of-3 rep:\n\n"
                "| stage | local[%d] | local[%d] | speedup |\n|---|---|---|---|\n"
                % (n_low, n_high)
            )
            for s in stages:
                lo = low["e2e_stage_seconds"].get(s)
                hi = high["e2e_stage_seconds"].get(s)
                sp = (
                    lo / hi
                    if lo is not None and hi is not None and hi > 0
                    else float("nan")
                )
                fh.write(f"| {s} | {lo} | {hi} | {sp:.2f}x |\n")
            fh.write("\n")
    else:
        res = bench_once(CPUS, with_queries=True)
        payload = {
            "metric": "candidate_pairs_scored_per_sec",
            "value": res["pairs_per_sec"],
            "unit": "sec",
            "queries": res["queries"],
            "query_rep_walls": res.get("query_rep_walls"),
            "sf": SF_DIR,
            "pairs_scored": res["pairs_scored"],
            "score_stage_seconds": res["score_stage_seconds"],
            "er_seconds": res["er_seconds"],
            "e2e_pairs_per_sec": res["e2e_pairs_per_sec"],
            "e2e_stage_seconds": res["e2e_stage_seconds"],
            "cpus": res["cpus"],
        }
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
