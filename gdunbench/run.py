"""GDUN-assignment benchmark: one command, two workloads, checked outputs.

    python3 gdunbench/run.py --workload dnb_backfill --seed 7 --seconds 5 --trace 0

Run from a checkout root. Every corpus comes from
``sources.fixtures.generate`` with the given seed; every output is checked
against the fixture's truth. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the metric names and units
are the ``end_to_end`` (``--trace 0``) or ``per_layer`` (``--trace 1``) lists
of BENCHMARK.json. A traced run first repeats the untraced measurement, then
measures again with spans on, so it can report its own overhead. Spans,
Spark job/stage records and metrics of a traced run are written to
``.bench_work/traces/``. Everything the run writes stays under
``.bench_work/`` in the checkout. See NOTES.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".bench_work"

# Corpus sizes (documents; ~2 name mentions each). The ingest corpus is
# consumed in eight equal micro-batches in doc_id order.
DEFAULT_DOCS = {"dnb_backfill": 5000, "incremental_ingest": 1600}
INGEST_BATCHES = 8
# A backfill run measures at least two calls and reports their median: one
# call swung by over 20 % between runs on a shared host, and the time budget
# has room for a second backfill call but not a second micro-batch.
BACKFILL_CALLS = 2


def log(msg: str) -> None:
    print(f"[gdunbench] {msg}", file=sys.stderr, flush=True)


def host_cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_heap() -> str:
    """An eighth of physical memory, within [1 GiB, 2 GiB]: local mode runs
    every task inside the driver JVM, these corpora need well under 1 GiB of
    heap, and the machine may be shared."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(max(kib // 8 // 1024, 1024), 2048)}m"


def start_session(cores: int):
    from gduns_name_match_spark.session import get_spark

    tmp = WORK / "tmp"
    heap = driver_heap()
    spark = get_spark(
        app_name="gdunbench",
        cores=cores,
        # two shuffle partitions per core: the package default (at least 32)
        # is sized for a cluster and adds per-task overhead on a small host
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.driver.memory": heap,
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            # a fixed-size heap: a heap that grows and shrinks with GC
            # decisions made peak RSS and call times swing run to run
            "spark.driver.extraJavaOptions":
                f"-Xms{heap} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Run:
    """State of one benchmark run: the session, the corpus, and the counters
    every workload fills in."""

    def __init__(self, spark, args, t_start: float):
        import checks
        import corpus

        self.spark, self.args = spark, args
        self.cores = host_cores()
        self.checks = checks
        n_docs = args.docs or DEFAULT_DOCS[args.workload]
        self.corpus = corpus.load(corpus.CorpusSpec(n_docs, args.seed), WORK / "fixtures")
        # the inputs stay parquet-backed: reading them is part of every call
        self.docs = spark.read.parquet(self.corpus.documents_path)
        self.registry = spark.read.parquet(self.corpus.registry_path)
        self.n_docs = n_docs
        self.t_start = t_start
        self.attempted = self.failed = 0
        self.values: dict[str, float] = {}
        self.call_jobs: list[int] = []  # Spark jobs per measured call (traced runs)
        self._keys = None

    def block_keys(self):
        """Per-mention block keys for the pairwise-F1 check, as the test
        derives them: normalize_name_col then with_block_keys on each
        mention's raw name. Keys depend on the name alone, so they are
        computed once per distinct name, once per run, outside every timed
        region."""
        if self._keys is None:
            from pyspark.sql import functions as F

            from gduns_name_match_spark.functions.normalize import normalize_name_col
            from gduns_name_match_spark.operators.blocking import with_block_keys

            names = self.corpus.truth[["raw_name"]].drop_duplicates()
            normed = self.spark.createDataFrame(names).select(
                "raw_name", normalize_name_col(F.col("raw_name")).alias("m_norm"))
            with self.aux():
                keys = with_block_keys(normed, "m_norm").select(
                    "raw_name", "block_key").toPandas()
            self._keys = self.corpus.truth[["mention_id", "raw_name"]].merge(
                keys, on="raw_name")[["mention_id", "block_key"]]
        return self._keys

    @contextmanager
    def aux(self):
        """Job group for the benchmark's own bookkeeping jobs."""
        from spans import AUX_GROUP

        sc = self.spark.sparkContext
        sc.setJobGroup(AUX_GROUP, "benchmark bookkeeping")
        try:
            yield
        finally:
            sc._jsc.clearJobGroup()

    def phase(self, name: str) -> None:
        log(f"{name} at {time.perf_counter() - self.t_start:.1f} s")

    def record(self, problems: list[str], what: str) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            log(f"{what} failed its checks: {'; '.join(problems)}")


def guarded(run: Run, what: str, fn):
    """Run one measured call; an exception counts as a failed attempt."""
    try:
        return fn()
    except Exception:  # noqa: BLE001 - a failed call is a measured outcome
        traceback.print_exc(file=sys.stderr)
        run.record([f"{what} raised"], what)
        return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- workloads


def backfill_call(run: Run, tracer=None, timings=None, docs=None):
    """One bulk match: documents + registry in, every decision row out."""
    from contextlib import nullcontext

    from gduns_name_match_spark.plans import pipeline

    span = tracer.span if tracer else (lambda _n: nullcontext())
    docs = run.docs if docs is None else docs
    t0 = time.perf_counter()
    with span("call"):
        res = pipeline.match_documents(run.spark, docs, run.registry, timings=timings)
        t1 = time.perf_counter()
        with span("decision_attach"):
            decisions = res.decisions.toPandas()
    t2 = time.perf_counter()
    return res, decisions, t2 - t0, t2 - t1


def run_backfill(run: Run, traced: bool) -> None:
    from pyspark.sql import functions as F

    truth = run.corpus.truth
    n_mentions = len(truth)
    # Warm-up, part of set-up. A first call in a fresh JVM runs 2-3x longer
    # than a warm one and its time swings with JIT and code generation, so
    # it is not measured. JIT and generated code do not depend on the data
    # size: an eighth of the corpus warms the same plan in less time.
    head = f"doc{run.n_docs // 8:06d}"
    res, _, _, _ = backfill_call(run, docs=run.docs.filter(F.col("doc_id") < head))
    res.release()
    run.values["setup_s"] = time.perf_counter() - run.t_start
    run.phase("set-up done")

    def window(tracer=None, ledger=None, min_calls=BACKFILL_CALLS):
        walls, out = [], []
        start = time.perf_counter()
        for i in itertools.count(1):
            timings = {} if tracer else None
            got = guarded(run, "match_documents", lambda: backfill_call(run, tracer, timings))
            if ledger is not None:
                run.call_jobs.append(ledger.call_jobs())
            if got is not None:
                res, decisions, wall, attach = got
                walls.append(wall)
                out.append((res, decisions, timings, attach))
            if i >= min_calls and time.perf_counter() - start >= run.args.seconds:
                return walls, out

    def check(out):
        f1s, accs = [], []
        for res, decisions, _, _ in out:
            problems, f1, acc = run.checks.check_decisions(decisions, truth, run.block_keys())
            run.record(problems, "match_documents")
            f1s.append(f1)
            accs.append(acc)
        return f1s, accs

    tr = None
    if traced:
        from gduns_name_match_spark.plans import pipeline

        tr = Traced(run, pipeline_targets(pipeline))
    walls, out = window(ledger=tr and tr.ledger)
    run.phase("measured")
    f1s, accs = check(out)
    run.phase("checked")
    for res, *_ in out:
        res.release()
    if not walls:
        raise RuntimeError("no call completed in the measured window")
    run.values.update({
        "mentions_per_s": n_mentions * len(walls) / sum(walls),
        "batch_p50_s": median(walls),
        "pairwise_f1": median(f1s),
        "gdun_accuracy": median(accs),
    })
    if tr is None:
        return
    with tr.tracer.patched(tr.targets):
        t_walls, t_out = window(tr.tracer, tr.ledger, min_calls=1)
    check(t_out)
    if not t_out:
        raise RuntimeError("no traced call completed")
    res, decisions, _, _ = t_out[-1]
    tr.pipeline_layers([o[2] for o in t_out], [o[3] for o in t_out])
    tr.result_counts(res)
    run.values["resolve.manual_frac"] = float((decisions["match_status"] == "manual").mean())
    for r, *_ in t_out:
        r.release()
    # overhead baseline: warm untraced calls, run after the traced ones so
    # that further warming cannot hide tracing cost
    base_walls, base_out = window(ledger=tr.ledger, min_calls=1)
    check(base_out)
    for r, *_ in base_out:
        r.release()
    tr.incremental_layers([], [], [], 0.0, 0)
    tr.finish(base_walls, t_walls, call_span="call")


def run_ingest(run: Run, traced: bool) -> None:
    from pyspark.sql import functions as F

    from gduns_name_match_spark.streaming import incremental

    truth = run.corpus.truth
    per_batch = max(run.n_docs // INGEST_BATCHES, 1)
    n_batches = -(-run.n_docs // per_batch)
    sink_dir = WORK / "runs" / f"{os.getpid()}-{time.time_ns()}"
    sink = str(sink_dir / "decisions")
    state = {"next": 0, "sink_rows": 0, "done_batches": 0}

    def batch_frame(k: int):
        lo, hi = f"doc{k * per_batch:06d}", f"doc{(k + 1) * per_batch:06d}"
        return run.docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))

    def batch_truth(k: int):
        lo, hi = f"doc{k * per_batch:06d}", f"doc{(k + 1) * per_batch:06d}"
        return truth[(truth["doc_id"] >= lo) & (truth["doc_id"] < hi)]

    def one_batch(k: int, tracer=None, timings=None, name="batch"):
        from contextlib import nullcontext

        span = tracer.span(name) if tracer else nullcontext()
        kwargs = {"timings": timings} if timings is not None else {}
        t0 = time.perf_counter()
        with span:
            incremental.incremental_match_batch(run.spark, batch_frame(k), run.registry,
                                                sink, **kwargs)
        return time.perf_counter() - t0

    def rows_added() -> int:
        with run.aux():
            n = run.spark.read.parquet(sink).count()
        added, state["sink_rows"] = n - state["sink_rows"], n
        return added

    try:
        one_batch(0)  # the first micro-batch pays the cold start: set-up
        rows_added()
        state["next"], state["done_batches"] = 1, 1
        run.values["setup_s"] = time.perf_counter() - run.t_start
        run.phase("set-up done")

        def window(tracer=None, ledger=None):
            walls, mentions, timings_list, written = [], 0, [], []
            start = time.perf_counter()
            while state["next"] < n_batches:
                k = state["next"]
                state["next"] += 1
                timings = {} if tracer else None
                wall = guarded(run, "incremental_match_batch",
                               lambda: one_batch(k, tracer, timings))
                if ledger is not None:
                    run.call_jobs.append(ledger.call_jobs())
                if wall is not None:
                    state["done_batches"] = k + 1
                    added, expect = rows_added(), len(batch_truth(k))
                    run.record([] if added == expect else
                               [f"batch {k} appended {added} rows for {expect} mentions"],
                               f"batch {k}")
                    walls.append(wall)
                    mentions += expect
                    timings_list.append(timings)
                    written.append(added)
                if time.perf_counter() - start >= run.args.seconds:
                    break
            return walls, mentions, timings_list, written

        def replay(tracer=None, ledger=None):
            """Re-deliver the last ingested batch: the sink's mention_id
            anti-join must drop every row."""
            k = state["done_batches"] - 1
            wall = guarded(run, "replay",
                           lambda: one_batch(k, tracer, {} if tracer else None, "replay"))
            if ledger is not None:
                ledger.collect()
            if wall is None:
                return 0.0, 0
            added = rows_added()
            run.record([] if added == 0 else [f"replay appended {added} rows"], "replay")
            return wall, added

        def check_sink() -> None:
            """The sink must hold exactly one valid decision per ingested
            mention; any problem fails every attempt that built it."""
            with run.aux():
                decided = run.spark.read.parquet(sink).toPandas()
            hi = f"doc{state['done_batches'] * per_batch:06d}"
            problems, f1, acc = run.checks.check_decisions(
                decided, truth[truth["doc_id"] < hi], run.block_keys())
            if problems:
                log(f"sink failed its checks: {'; '.join(problems)}")
                run.failed = run.attempted
            run.values.update({"pairwise_f1": f1, "gdun_accuracy": acc})
            run.values["resolve.manual_frac"] = float((decided["match_status"] == "manual").mean())

        tr = None
        if traced:
            from gduns_name_match_spark.plans import pipeline

            tr = Traced(run, pipeline_targets(pipeline) + [
                (incremental, "incremental_match_batch", "incremental_match_batch", None)])
        walls, mentions, _, _ = window(ledger=tr and tr.ledger)
        run.phase("measured")
        if tr is not None:
            # the replay runs in traced runs only: a full extra match call
            # would not fit the untraced runs' time budget
            with tr.tracer.patched(tr.targets):
                t_walls, _, t_timings, t_written = window(tr.tracer, tr.ledger)
                if not t_walls:
                    raise RuntimeError("no traced micro-batch completed")
                tr.result_counts(tr.last_result)
                replay_s, replay_rows = replay(tr.tracer, tr.ledger)
            tr.pipeline_layers(t_timings, [0.0] * len(t_timings))
            # overhead baseline, after the traced batches (see run_backfill)
            base_walls, _, _, _ = window(ledger=tr.ledger)
            tr.incremental_layers(
                tr.durations("match_documents")[:len(t_walls)],
                tr.self_times("incremental_match_batch")[:len(t_walls)],
                t_written, replay_s, replay_rows)
            tr.finish(base_walls, t_walls, call_span="batch")
        check_sink()
        run.phase("checked")
        if not walls:
            raise RuntimeError("no micro-batch completed in the measured window")
        run.values.update({
            "mentions_per_s": mentions / sum(walls),
            "batch_p50_s": median(walls),
        })
    finally:
        shutil.rmtree(sink_dir, ignore_errors=True)


# ------------------------------------------------------------------ tracing


def pipeline_targets(pipeline):
    """The public functions plans.pipeline calls, rebound where it
    imported them."""
    def idf_terms(span, idf):
        span.counts["idf_terms"] = len(idf)

    return [
        (pipeline, "match_documents", "match_documents", None),
        (pipeline, "build_idf", "build_idf", idf_terms),
        (pipeline, "candidate_pairs", "candidate_pairs", None),
        (pipeline, "resolve_gdun", "resolve_gdun", None),
    ]


class Traced:
    """Per-layer numbers of one traced window, per call (median over the
    traced calls for times, per-call means for Spark totals)."""

    SPAN_METRICS = ("match_documents", "build_idf", "candidate_pairs",
                    "decision_attach", "incremental_match_batch")

    def __init__(self, run: Run, targets):
        from spans import SparkLedger, Tracer

        self.run = run
        self.tracer = Tracer(run.spark.sparkContext)
        self.ledger = SparkLedger(run.spark.sparkContext)
        self.ledger.collect()
        self.last_result = None
        self.last_blocking = None

        def keep_result(_span, res):
            self.last_result = res

        def keep_blocking(_span, blocking):
            self.last_blocking = blocking

        hooks = {"match_documents": keep_result, "candidate_pairs": keep_blocking}
        self.targets = [(m, a, n, cb or hooks.get(n)) for m, a, n, cb in targets]

    def spans_named(self, name):
        return [s for s in self.tracer.spans if s.name == name]

    def durations(self, name):
        return [s.duration for s in self.spans_named(name)]

    def self_times(self, name):
        return [self.tracer.self_time(s) for s in self.spans_named(name)]

    def pipeline_layers(self, timings_list, attach_list) -> None:
        v = self.run.values
        for key in ("idf_build", "block_key_stats", "block_join_score", "decision_map"):
            v[f"pipeline.{key}_s"] = median([t[key] for t in timings_list if key in t])
        v["pipeline.decision_attach_s"] = median(attach_list)
        v["blocking.candidate_pairs_s"] = median(self.durations("candidate_pairs"))
        v["similarity.build_idf_s"] = median(self.durations("build_idf"))
        v["resolve.resolve_gdun_s"] = median(self.durations("resolve_gdun"))
        terms = [s.counts.get("idf_terms", 0) for s in self.spans_named("build_idf")]
        v["similarity.idf_terms"] = terms[-1] if terms else 0

    def result_counts(self, res) -> None:
        """Pair and key counts of the last traced call, counted after the
        window under a job group of their own (a cached frame is read from
        cache; a released one is recomputed)."""
        from pyspark.sql import functions as F

        from gduns_name_match_spark.operators.resolve import THRESHOLD

        with self.run.aux():
            v = self.run.values
            v["blocking.pairs"] = self.last_blocking.pairs.count()
            ks = self.last_blocking.stats.agg(
                F.sum(F.col("is_hot").cast("long")).alias("hot"),
                F.sum(F.col("is_dropped").cast("long")).alias("dropped"),
            ).first()
            v["blocking.hot_keys"] = ks["hot"] or 0
            v["blocking.dropped_keys"] = ks["dropped"] or 0
            sc_row = res.pairs_scored.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("cos_dist") <= THRESHOLD).cast("long")).alias("ok"),
            ).first()
            v["similarity.pairs_scored"] = sc_row["n"]
            v["similarity.accept_ratio"] = (sc_row["ok"] or 0) / sc_row["n"] if sc_row["n"] else 0.0

    def incremental_layers(self, match_s, sink_s, written, replay_s, replay_rows) -> None:
        v = self.run.values
        v["incremental.match_s"] = median(match_s)
        v["incremental.sink_s"] = median(sink_s)
        v["incremental.rows_written"] = median(written)
        v["incremental.replay_rows_written"] = replay_rows
        v["incremental.replay_s"] = replay_s

    def finish(self, untraced_walls, traced_walls, call_span: str) -> None:
        from spans import covered_seconds

        self.ledger.collect()
        v, cores = self.run.values, self.run.cores
        calls = self.spans_named(call_span)
        n = max(len(calls), 1)
        in_calls = [c for c in self.tracer.spans if any(self._under(c, s) for s in calls)]
        tot = self.ledger.totals({c.id for c in in_calls})
        wall = sum(s.duration for s in calls)
        covered = sum(covered_seconds(tot["stage_intervals"], s.start, s.end) for s in calls)
        for k in ("jobs", "stages", "stages_skipped", "tasks", "failed_tasks",
                  "task_s", "shuffle_write_mb", "spill_mb"):
            v[f"spark.{k}"] = tot[k] / n
        v["spark.task_cpu_s"] = tot["cpu_s"] / n
        v["spark.core_busy_frac"] = tot["task_s"] / (wall * cores) if wall else 0.0
        v["spark.no_stage_s"] = (wall - covered) / n
        jobs = self.run.call_jobs
        v["spark.jobs_call_range"] = max(jobs) - min(jobs) if jobs else 0
        for name in self.SPAN_METRICS:
            t = self.ledger.totals({c.id for c in in_calls if c.name == name})
            v[f"spark.{name}.jobs"] = t["jobs"] / n
            v[f"spark.{name}.task_s"] = t["task_s"] / n
        u, t = median(untraced_walls), median(traced_walls)
        v["trace.untraced_batch_p50_s"] = u
        v["trace.traced_batch_p50_s"] = t
        v["trace.overhead_frac"] = t / u - 1 if u else 0.0
        self._write()

    def _under(self, span, root) -> bool:
        by_id = {s.id: s for s in self.tracer.spans}
        while span is not None:
            if span.id == root.id:
                return True
            span = by_id.get(span.parent)
        return False

    def _write(self) -> None:
        out = WORK / "traces"
        out.mkdir(parents=True, exist_ok=True)
        a = self.run.args
        path = out / f"{a.workload}-seed{a.seed}-{os.getpid()}.json"
        path.write_text(json.dumps({
            "workload": a.workload, "seed": a.seed, "cores": self.run.cores,
            "spans": self.tracer.to_json(),
            "jobs": self.ledger.jobs,
            "stages": [{"stage": k[0], "attempt": k[1], **st}
                       for k, st in self.ledger.stages.items()],
            "metrics": self.run.values,
        }, indent=1, default=str))
        log(f"trace written to {path}")


WORKLOADS = {"dnb_backfill": run_backfill, "incremental_ingest": run_ingest}


# --------------------------------------------------------------------- main


def cpu_times() -> list[int]:
    """The aggregate line of /proc/stat (user ... steal ...), in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python create under WORK."""
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # every JVM (the spark-submit launcher too) would otherwise write its
    # performance-counter file under /tmp, whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None,
                   help="override the corpus size (smoke tests only)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    prepare_environment()
    sys.path.insert(0, str(ROOT))
    import gduns_name_match_spark  # noqa: F401  - fails fast outside a checkout
    from procs import PeakRss, stop_spark

    steal_before = cpu_times()
    with PeakRss() as rss:
        t_start = time.perf_counter()
        spark = start_session(host_cores())
        try:
            run = Run(spark, args, t_start)
            WORKLOADS[args.workload](run, bool(args.trace))
            run.values["peak_rss_mb"] = rss.peak_mb
            log(rss.describe_peak())
        finally:
            stop_spark(spark)
            log(f"stopped at {time.perf_counter() - t_start:.1f} s")
    # on a shared virtual machine, time stolen by the hypervisor shows up in
    # every wall-clock metric of the run
    after = cpu_times()
    total = sum(after) - sum(steal_before)
    if total > 0:
        log(f"CPU steal during the run: {(after[7] - steal_before[7]) / total:.1%}")
    section = "per_layer" if args.trace else "end_to_end"
    metrics = {m["name"]: {"value": float(run.values[m["name"]]), "unit": m["unit"]}
               for m in spec[section]}
    print(json.dumps({"correct": run.failed == 0 and run.attempted > 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
