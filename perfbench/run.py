"""Layer-attributed, oracle-checked benchmark for emma_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. One run:

1. generates the workload's input tables into a scratch directory under
   ``.perfbench_work/`` (three times, timing each) and checks their row
   counts;
2. starts a ``local[<cores>]`` session through ``emma_spark.session``;
3. checks every query of the workload once against its DuckDB oracle
   with ``tools/diffcheck.compare_one`` — this is also the cold warm-up
   pass;
4. runs timed passes for at least ``S`` seconds and at least two passes:
   a closed loop with one client, each query built with
   ``q.fn(spark, dir)`` and fully executed through the ``noop`` sink
   before the next starts, in an order drawn from ``--seed``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs one
untimed warm-up pass, then alternates untraced and traced passes (at
least one of each) and reports the per-layer metrics: spans around the
engine's public layer functions, Spark jobs per span, stage totals,
codegen compiles and stream-drain progress. The last line of standard
output is one JSON object; see NOTES.md for every metric.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import resource
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import sparkstats  # noqa: E402
from spans import Recorder, summarize  # noqa: E402

ITERATIVE = [
    "graph_pagerank_sf", "graph_pagerank", "ml_gbdt_residual_boost",
    "ml_kmeans_assign", "ml_gridsearch_ridge", "ann_ivf_pq_topk",
]
CORPUS = [
    "dedup_minhash_pairs", "pipeline_corpus_curation", "text_bm25_scores",
    "sketch_countmin_tokens", "ann_topk_cosine", "stream_tumbling_counts",
    "stream_watermark_append",
]
ALL_QUERIES = ITERATIVE + CORPUS

# name -> (scale factor, queries)
WORKLOADS = {
    "iterative_sf0.1": (0.1, ITERATIVE),
    "corpus_stream_sf0.1": (0.1, CORPUS),
}

# (module, function, span name): the layer boundaries the traced run
# records. Spans named "build" (q.fn) and "exec" (the noop write) wrap
# each query; everything below nests inside them.
LAYERS = [
    ("emma_spark.sources.io", "read_parquet", "sources.read_parquet"),
    ("emma_spark.plans.cache", "pin", "plans.cache.pin"),
    ("emma_spark.plans.iterate", "fixpoint", "plans.iterate.fixpoint"),
    ("emma_spark.lib.graphs", "page_rank_int", "lib.graphs.page_rank_int"),
    ("emma_spark.llm.dedup", "drop_exact_dups", "llm.drop_exact_dups"),
    ("emma_spark.llm.dedup", "minhash_signature", "llm.minhash_signature"),
    ("emma_spark.llm.dedup", "lsh_candidate_pairs", "llm.lsh_candidate_pairs"),
    ("emma_spark.llm.pipeline", "curate", "llm.curate"),
    ("emma_spark.llm.pipeline", "corpus_stats", "llm.corpus_stats"),
    ("emma_spark.llm.similarity", "brute_force_topk", "llm.brute_force_topk"),
    ("emma_spark.llm.sketches", "countmin_build", "llm.countmin_build"),
    ("emma_spark.llm.sketches", "countmin_estimate", "llm.countmin_estimate"),
    ("emma_spark.streaming.api", "run_to_memory", "streaming.run_to_memory"),
]
SPAN_STATS = ("calls", "self_s", "jobs")

PREP_REPEATS = 3
MIN_PASSES = 2  # timed untraced passes; a traced run needs one of each
ORACLE_VERSION = "1"  # part of the oracle-cache key: bump when its layout changes

END_TO_END = {"pass_s": "s", "setup_s": "s", "ok_share": "ratio"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {}
    for _, _, span in LAYERS:
        for stat in SPAN_STATS:
            units[f"{span}.{stat}"] = "s" if stat == "self_s" else "count"
    units.update({
        "build.self_s": "s",
        "plans.cache.held_mb": "MB",
        "streaming.batches": "count",
        "streaming.batch_ms": "ms",
        "streaming.input_rows": "count",
        "spark.exec_s": "s",
        "spark.build_jobs": "count",
        "spark.exec_jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.shuffle_read_mb": "MB",
        "spark.shuffle_write_mb": "MB",
        "spark.spill_mb": "MB",
        "spark.task_skew": "ratio",
        "spark.codegen_compiles": "count",
        "harness.calib_start_s": "s",
        "harness.calib_mid_s": "s",
        "harness.calib_end_s": "s",
        "driver.peak_rss_mb": "MB",
        "trace.pass_s": "s",
        "trace.overhead_s": "s",
        "trace.unattributed_s": "s",
    })
    for q in ALL_QUERIES:
        units[f"query.{q}.wall_s"] = "s"
    return units


def force(df) -> None:
    """Run every operator of the plan without collecting: noop sink."""
    df.write.mode("overwrite").format("noop").save()


def check_inputs(data_dir: str, sf: float) -> dict[str, int]:
    """Row counts read back from the written parquet footers; raises if
    any differs from the generator's contract."""
    import pyarrow.parquet as pq

    want = datagen.expected_rows(sf)
    got = {t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
           for t in want}
    if got != want:
        raise SystemExit(f"input row counts {got} differ from {want}")
    return got


def oracle_cache(work: str, data_dir: str, sf: float, registry, names) -> str:
    """A DuckDB file holding each query's oracle result as a table named
    after the query, built once per checkout. The key covers the
    generator, the scale and every oracle's SQL, so a changed oracle or
    input is recomputed. DuckDB keeps the result's column types, so the
    comparison sees exactly what running the oracle would return."""
    import duckdb
    from tools.diffcheck import TABLES

    h = hashlib.sha256(ORACLE_VERSION.encode())
    with open(datagen.__file__, "rb") as f:
        h.update(f.read())
    h.update(f"{sf}".encode())
    for n in names:
        h.update(n.encode() + b"\0" + (registry[n].oracle or "").encode() + b"\0")
    path = os.path.join(work, f"oracles-{h.hexdigest()[:16]}.duckdb")
    if os.path.exists(path):
        return path
    tmp = f"{path}.{os.getpid()}.tmp"
    try:
        con = duckdb.connect(tmp)
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        for n in names:
            if registry[n].oracle is not None:
                con.execute(f'CREATE TABLE "{n}" AS {registry[n].oracle}')
        for t in TABLES:
            con.execute(f"DROP VIEW {t}")
        con.close()
        os.replace(tmp, path)
    finally:
        # an interrupted build leaves no partial cache behind
        for leftover in (tmp, f"{tmp}.wal"):
            if os.path.exists(leftover):
                os.remove(leftover)
    return path


def calibrate(spark, data_dir: str) -> float:
    """Fixed scan + hash aggregate over lineitem, best of three."""
    from pyspark.sql import functions as F

    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        force(spark.read.parquet(os.path.join(data_dir, "lineitem.parquet"))
              .groupBy("l_returnflag").agg(F.sum("l_quantity"), F.count(F.lit(1))))
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


class Tracer:
    """The per-layer instrumentation of the traced passes."""

    def __init__(self, spark):
        self.spark = spark
        self.rec = Recorder(spark.sparkContext)
        for mod, fn, span in LAYERS:
            self.rec.install(mod, fn, span)
        self._hook_drains()
        self.rec.on_exit = self._sample_held
        self.reset()

    def _hook_drains(self) -> None:
        """Read each stream drain's progress from the query handed to
        ``drain_accounting``. Drain jobs run on the stream thread under
        the query's run id as job group, not the caller's, so they are
        attributed to the enclosing span by that group."""
        from emma_spark.streaming import api

        orig = api.drain_accounting
        rec, tracker = self.rec, self.spark.sparkContext.statusTracker()

        def drain_accounting(query):
            if rec.enabled:
                progress = query.recentProgress
                self.stream["batches"] += len(progress)
                self.stream["batch_ms"] += sum(
                    (p["durationMs"] or {}).get("triggerExecution", 0) for p in progress
                )
                self.stream["input_rows"] += sum(int(p["numInputRows"] or 0) for p in progress)
                if rec.stack:
                    rec.spans[rec.stack[-1]].jobs.extend(
                        tracker.getJobIdsForGroup(str(query.runId))
                    )
            return orig(query)

        self.rec.rebind(orig, drain_accounting)

    def _sample_held(self, span) -> None:
        if span.name in ("plans.cache.pin", "build", "exec"):
            self.held = max(self.held, sparkstats.held_mb(self.spark))

    def reset(self) -> None:
        self.rec.reset()
        self.held = 0.0
        self.stream = {"batches": 0, "batch_ms": 0.0, "input_rows": 0}
        self.compiles0 = sparkstats.codegen_compiles(self.spark)

    def pass_metrics(self, pass_s: float) -> dict[str, float]:
        spans = self.rec.spans
        summ = summarize(spans)
        m: dict[str, float] = {}
        for _, _, span in LAYERS:
            s = summ.get(span, {"calls": 0, "self_s": 0.0, "jobs": 0})
            for stat in SPAN_STATS:
                m[f"{span}.{stat}"] = s[stat]
        m["build.self_s"] = summ.get("build", {}).get("self_s", 0.0)
        m["plans.cache.held_mb"] = self.held
        for k, v in self.stream.items():
            m[f"streaming.{k}"] = v
        m["spark.exec_s"] = summ.get("exec", {}).get("self_s", 0.0)
        m["spark.exec_jobs"] = sum(len(s.jobs) for s in spans if s.name == "exec")
        m["spark.build_jobs"] = sum(len(s.jobs) for s in spans if s.name != "exec")
        jobs = [j for s in spans for j in s.jobs]
        for k, v in sparkstats.stage_stats(self.spark, jobs).items():
            m[f"spark.{k}"] = v
        m["spark.codegen_compiles"] = sparkstats.codegen_compiles(self.spark) - self.compiles0
        m["trace.pass_s"] = pass_s
        m["trace.unattributed_s"] = pass_s - sum(v["self_s"] for v in summ.values())
        return m


def run_pass(spark, registry, order, data_dir, tracer=None):
    """One closed-loop pass; returns (wall s, {query: s}, [failures])."""
    times, failures = {}, []
    rec = tracer.rec if tracer is not None else None
    if rec is not None:
        tracer.reset()
        rec.enabled = True
    t_pass = time.perf_counter()
    for name in order:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            if rec is not None:
                with rec.span("build"):
                    df = registry[name].fn(spark, data_dir)
                with rec.span("exec"):
                    force(df)
            else:
                force(registry[name].fn(spark, data_dir))
        except Exception as ex:  # noqa: BLE001 — a raise is a counted failure
            failures.append(f"{name}: {ex!r}"[:300])
        times[name] = time.perf_counter() - t0
    wall = time.perf_counter() - t_pass
    if rec is not None:
        rec.enabled = False
    return wall, times, failures


def median_of(rows: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def bench(args, work: str, run_dir: str) -> dict:
    sf, names = WORKLOADS[args.workload]
    data_dir = os.path.join(run_dir, "data")
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}")

    # input preparation, repeated: setup_s takes the median
    prep = []
    for _ in range(PREP_REPEATS):
        t0 = time.perf_counter()
        datagen.generate(data_dir, sf)
        rows = check_inputs(data_dir, sf)
        prep.append(time.perf_counter() - t0)
    print(f"inputs sf{sf}: " + ", ".join(f"{t} {n:,}" for t, n in rows.items()))

    t0 = time.perf_counter()
    from emma_spark.session import get_spark
    from emma_spark.workloads import load_all

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    spark = get_spark("perfbench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    session_s = time.perf_counter() - t0
    try:
        return measure(args, spark, registry, names, sf, work, data_dir,
                       prep, session_s)
    finally:
        stop(spark)


def measure(args, spark, registry, names, sf, work, data_dir, prep, session_s):
    import duckdb
    from tools.diffcheck import compare_one

    t0 = time.perf_counter()
    db = oracle_cache(work, data_dir, sf, registry, names)
    print(f"oracle cache ready in {time.perf_counter() - t0:.2f} s")

    rng = random.Random(args.seed)
    attempted, failed, mismatched = 0, 0, []

    # correctness pass: also the cold warm-up pass. It runs in the
    # workload's fixed order, so the code paths the JIT sees first do not
    # depend on the seed.
    t0 = time.perf_counter()
    con = duckdb.connect(db, read_only=True)
    for name in names:
        q = registry[name]
        oracle = f'SELECT * FROM "{name}"' if q.oracle is not None else None
        tq = time.perf_counter()
        status, detail = compare_one(spark, con, name, q.fn, oracle, data_dir)
        print(f"  checked {name}: {status} in {time.perf_counter() - tq:.3f} s")
        attempted += 1
        if status not in ("ok", "rows-only"):
            failed += 1
            mismatched.append(name)
            print(f"oracle {status} {name}: {detail}")
    con.close()
    check_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(prep) + check_s
    print(f"setup: session {session_s:.3f} s, input prep {statistics.median(prep):.3f} s "
          f"(median of {len(prep)}), oracle-checked pass {check_s:.3f} s")

    failures = []
    tracer = Tracer(spark) if args.trace else None
    calib = {}
    if tracer:
        # untraced and traced passes then start equally warm
        failures += run_pass(spark, registry, names, data_dir)[2]
        attempted += len(names)
        calib["start"] = calibrate(spark, data_dir)

    plain, traced, qtimes = [], [], {n: [] for n in names}
    t_loop = time.perf_counter()
    while True:
        for use_tracer in ((None, tracer) if tracer else (None,)):
            order = rng.sample(names, len(names))
            wall, times, fails = run_pass(spark, registry, order, data_dir, use_tracer)
            attempted += len(order)
            failures += fails
            if use_tracer:
                traced.append(use_tracer.pass_metrics(wall))
            else:
                plain.append(wall)
                for n, t in times.items():
                    qtimes[n].append(t)
        if tracer and len(plain) == 1:
            calib["mid"] = calibrate(spark, data_dir)
        if (time.perf_counter() - t_loop >= args.seconds
                and len(plain) >= (1 if tracer else MIN_PASSES)):
            break
    failed += len(failures)
    for f in failures:
        print(f"raised {f}")

    pass_s = statistics.median(plain)
    print(f"passes {len(plain)} untraced" + (f", {len(traced)} traced" if tracer else "")
          + f"; pass_s median {pass_s:.4f} s; passes " + " ".join(f"{p:.3f}" for p in plain))
    for n in names:
        print(f"  {n}: median {statistics.median(qtimes[n]):.4f} s")
    print(f"error_rate {failed / attempted:.4f} ({failed} of {attempted} attempted)"
          + (f"; oracle mismatches: {', '.join(mismatched)}" if mismatched else ""))

    if not tracer:
        values = {"pass_s": pass_s, "setup_s": setup_s,
                  "ok_share": (attempted - failed) / attempted}
        units = END_TO_END
    else:
        calib["end"] = calibrate(spark, data_dir)
        values = median_of(traced)
        for k, v in calib.items():
            values[f"harness.calib_{k}_s"] = v
        jvm = sparkstats.jvm_peak_rss_mb(spark)
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        values["driver.peak_rss_mb"] = jvm + py
        values["trace.overhead_s"] = values["trace.pass_s"] - pass_s
        for q in ALL_QUERIES:
            values[f"query.{q}.wall_s"] = statistics.median(qtimes[q]) if q in qtimes else 0.0
        units = per_layer_units()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "emma_spark", "__init__.py")):
        print(f"no emma_spark package under {root}: run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file the run writes inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_STREAM_CKPT"] = os.path.join(run_dir, "stream")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        # no hsperfdata file in the system temp dir
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "pyspark-shell",
    ])
    tempfile.tempdir = tmp
    sys.path.insert(0, root)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.chdir(run_dir)
    try:
        result = bench(args, work, run_dir)
    finally:
        os.chdir(root)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
