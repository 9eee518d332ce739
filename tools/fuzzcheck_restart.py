"""Two-drain runner of the ``restart`` row of tools/fuzz.py.

Each eligible stream workload drains the sf0.001 events, split at
their median event time, in two checkpointed availableNow runs over a
staging dir that grows between them, and the result is compared with
the workload's batch oracle over the full corpus. The guarded
workloads also run a poison pass and a column-drift pass. The
split-boundary analysis and the exclusions are in docs/TIERS.md
(``restart``).
"""
from __future__ import annotations

import glob
import os
import shutil
import tempfile

import duckdb

from tools.diffcheck import compare_one
from tools.fuzz import ALL_TABLES, SRC, connect

EXCLUDED = {
    "stream_state_ttl_closed": "event-time timeout closure is "
        "restart-variant by Spark semantics (run-boundary no-data "
        "batches fire timeouts the single-run batch oracle cannot "
        "see); exact variance algebra pinned in tests/test_streaming"
        ".py::test_state_ttl_restart_variance_characterized",
    "stream_two_source_union": "stages its own two-shard source "
        "topology; the managed-staging seam does not apply",
    "stream_cdc_merge_snapshot": "already a multi-epoch checkpointed "
        "foreachBatch drain (in-class by construction)",
    "pyds_stream_source_counts": "single-prefetch synth source; "
        "offset restart pinned in tests/test_streaming.py",
    "pyds_stream_sink_roundtrip": "single-prefetch synth source; "
        "offset restart pinned in tests/test_streaming.py",
}

# workloads that adopt quarantine_future_skew/out_of_band ahead of
# with_watermark — the poison pass runs exactly these
GUARDED = [
    "stream_watermark_append",
    "stream_sliding_watermark_append",
    "stream_windowed_topk_users",
]

# each guarded workload's REQUIRED column (its quarantine_required
# adoption) — the drift pass renames exactly this column away in part2
DRIFT_COLS = {
    "stream_watermark_append": "value",
    "stream_sliding_watermark_append": "event_type",
    "stream_windowed_topk_users": "user_id",
}

# the unguarded negative control for the drift pass: sums `value` with
# no required-columns guard, so the drift class must absorb silently
DRIFT_CONTROL = "stream_tumbling_counts"


class RestartHarness:
    """Owns the managed staging dir and the checkpointed two-run
    drain. One instance per sweep; per-workload keys isolate
    checkpoints/outputs; ``variant`` separates the poison pass."""

    def __init__(self, spark):
        self.spark = spark
        self.base = tempfile.mkdtemp(prefix="emma_restart_")
        self.staged = os.path.join(self.base, "staged")
        os.makedirs(self.staged)
        self.workload = None
        self.variant = "clean"
        self.call_idx = 0
        self._build_splits()

    # --- corpus -----------------------------------------------------
    def _build_splits(self):
        """Split events at the median event time into two single-file
        parquet parts, staged through the engine's own IO (the
        nanos->micros / NTZ->LTZ normalization production staging
        applies)."""
        from pyspark.sql import functions as F

        from emma_spark.sources import io as eio

        con = duckdb.connect()
        t_split = con.execute(
            f"SELECT quantile_cont(ts, 0.5) FROM "
            f"read_parquet('{SRC}/events.parquet')"
        ).fetchone()[0]
        self.t_split = t_split
        ev = eio.read_parquet(self.spark, f"{SRC}/events.parquet").df
        for part, pred in (
            ("part1", F.col("ts") < F.lit(t_split)),
            ("part2", F.col("ts") >= F.lit(t_split)),
        ):
            d = os.path.join(self.base, f"_{part}")
            ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(d)
            (f,) = glob.glob(f"{d}/part-*.parquet")
            shutil.copy(f, os.path.join(self.base, f"{part}.parquet"))
        # the poison row: one real drain-1 row with its event time
        # rewritten to the ms-as-s artifact year (~2100)
        d = os.path.join(self.base, "_poison")
        (
            ev.orderBy("event_id").limit(1)
            .withColumn("ts", F.lit("2100-01-01 00:00:00").cast("timestamp"))
            .withColumn("event_id", F.lit(10**9).cast("bigint"))
            .coalesce(1).write.mode("overwrite").parquet(d)
        )
        (f,) = glob.glob(f"{d}/part-*.parquet")
        shutil.copy(f, os.path.join(self.base, "poison.parquet"))
        self.n_part2 = ev.filter(F.col("ts") >= F.lit(t_split)).count()
        # drifted part2 variants: the producer RENAMES a required
        # column — same rows, column c gone.
        # Written through Spark (not pyarrow): the drift must be a
        # COLUMN rename only, with byte-identical timestamp encoding
        # (a pyarrow round-trip re-encodes ts as TIMESTAMP(NANOS),
        # which Spark's vectorized reader rejects loudly — that's the
        # TYPE face, which fails loudly by design and is not this
        # pass's class)
        p2 = self.spark.read.parquet(os.path.join(self.base, "part2.parquet"))
        for c in sorted(set(DRIFT_COLS.values())):
            d = os.path.join(self.base, f"_drift_{c}")
            (
                p2.withColumnRenamed(c, f"{c}_drifted")
                .coalesce(1).write.mode("overwrite").parquet(d)
            )
            (f,) = glob.glob(f"{d}/part-*.parquet")
            shutil.copy(
                f, os.path.join(self.base, f"part2_drift_{c}.parquet"))

    # --- per-workload phases ----------------------------------------
    def begin(self, workload: str, phase: int, variant: str):
        self.workload = workload
        self.variant = variant
        self.call_idx = 0
        for f in glob.glob(f"{self.staged}/*.parquet"):
            os.remove(f)
        shutil.copy(os.path.join(self.base, "part1.parquet"),
                    os.path.join(self.staged, "part1.parquet"))
        if variant == "poison":
            shutil.copy(os.path.join(self.base, "poison.parquet"),
                        os.path.join(self.staged, "poison.parquet"))
        if phase == 2:
            if variant == "drift":
                # drain 2's producer renamed the workload's required
                # column; the file sorts AFTER part1.parquet, so the
                # phase-2 schema re-inference keeps the FULL schema
                # (probed first-footer-in-listing-order rule) and the
                # file source null-fills the missing column silently
                c = DRIFT_COLS.get(self.workload, "value")
                shutil.copy(
                    os.path.join(self.base, f"part2_drift_{c}.parquet"),
                    os.path.join(self.staged, "part2_drift.parquet"))
            else:
                shutil.copy(os.path.join(self.base, "part2.parquet"),
                            os.path.join(self.staged, "part2.parquet"))

    # --- monkeypatch targets ----------------------------------------
    def stage_events(self, spark, sf_dir: str) -> str:
        assert sf_dir == SRC, sf_dir
        return self.staged

    def run_to_memory(self, stream_df, name, output_mode="append",
                      state_partitions=None):
        """Checkpointed two-run drain standing in for the memory sink.
        append/update accumulate emissions across batches AND runs
        (exactly the memory sink's within-run behavior, extended over
        the restart); complete keeps the last full emission (the
        memory sink truncates per batch in complete mode)."""
        key = f"{self.workload}_{self.variant}_{self.call_idx}"
        self.call_idx += 1
        out = os.path.join(self.base, key, "out")
        ckpt = os.path.join(self.base, key, "ckpt")
        spark = self.spark
        mode = output_mode

        def sink(df, _epoch):
            df.write.mode("overwrite" if mode == "complete"
                          else "append").parquet(out)

        prev = spark.conf.get("spark.sql.shuffle.partitions")
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(state_partitions))
        try:
            q = (
                stream_df.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            # The split-boundary analysis (docs/TIERS.md, restart)
            # claims NO row is ever late in either drain (clean: the
            # median split; poison: the guard quarantines the poison
            # row before the watermark). MEASURE the claim per drain
            # instead of asserting it in prose: a nonzero
            # dropped-by-watermark count here means the analysis is
            # wrong for this workload and the comparison would pass
            # only by luck of what the oracle keeps.
            from emma_spark.streaming.api import drain_accounting

            acct = drain_accounting(q)
            if acct["dropped_by_watermark"]:
                raise AssertionError(
                    f"split-boundary claim violated: drain {key} "
                    f"dropped {acct['dropped_by_watermark']} rows by "
                    f"watermark ({acct})"
                )
        finally:
            if state_partitions is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
        if glob.glob(f"{out}/*.parquet"):
            res = spark.read.parquet(out)
        else:  # zero emissions so far: empty frame, stream's schema
            res = spark.createDataFrame([], stream_df.schema)
        res.createOrReplaceTempView(name)


def eligible_workloads(registry) -> list[str]:
    return [
        n for n in registry
        if (n.startswith("stream_") or n.startswith("pyds_stream"))
        and n not in EXCLUDED
    ]


def run_restart(spark, only=None, quiet: bool = False):
    """Run the two-drain differential over every eligible stream
    workload (or the ``only`` subset). Returns (n_ok, n_skip,
    failures) with the same conventions as tools.fuzz.run_fuzz."""
    from emma_spark.streaming import api as S
    from emma_spark.workloads import load_all
    from emma_spark.workloads import streaming as ws

    qs = load_all()
    con = connect(SRC, ALL_TABLES)

    h = RestartHarness(spark)
    orig_stage, orig_run = ws._stage_events, S.run_to_memory
    ws._stage_events = h.stage_events
    S.run_to_memory = h.run_to_memory

    # the drift pass's oracle corpus: after drain 2 every drifted
    # part2 row is dead-lettered by quarantine_required, so the VALID
    # corpus the guarded output must equal is part1 alone
    con_p1 = connect(SRC, ALL_TABLES)
    con_p1.execute(
        "CREATE OR REPLACE VIEW events AS SELECT * FROM "
        f"read_parquet('{os.path.join(h.base, 'part1.parquet')}')"
    )

    n_ok = n_skip = 0
    failures: list[str] = []
    try:
        names = eligible_workloads(qs)
        for name, reason in EXCLUDED.items():
            if name in qs and (only is None or name in only):
                if not quiet:
                    print(f"SKIP  {name}: {reason}")
                n_skip += 1
        plan = (
            [(n, "clean") for n in names]
            + [(n, "poison") for n in GUARDED if n in names]
            + [(n, "drift") for n in GUARDED if n in names]
        )
        for name, variant in plan:
            if only and name not in only:
                continue
            q = qs[name]
            try:
                h.begin(name, phase=1, variant=variant)
                q.fn(spark, SRC)  # drain 1 (result discarded)
                h.begin(name, phase=2, variant=variant)
                if variant == "drift":
                    # MEASURE the drift before trusting the compare:
                    # the full-schema footer must win the re-inference
                    # (part1 sorts first) and null-fill exactly the
                    # |part2| drifted rows — otherwise the pass would
                    # certify against an input that never drifted
                    from pyspark.sql import functions as F

                    c = DRIFT_COLS[name]
                    n_null = (
                        spark.read.parquet(h.staged)
                        .filter(F.col(c).isNull()).count()
                    )
                    if n_null != h.n_part2:
                        raise AssertionError(
                            f"drift precondition: expected {h.n_part2} "
                            f"null-filled '{c}' rows, saw {n_null}"
                        )
                status, detail = compare_one(
                    spark, con_p1 if variant == "drift" else con,
                    name, q.fn, q.oracle, SRC
                )
            except Exception as ex:  # noqa: BLE001 — reporting tool
                status, detail = "spark-error", repr(ex)[:300]
            tag = f"{name}[{variant}]"
            if status == "ok":
                n_ok += 1
                if not quiet:
                    print(f"ok    {tag}")
            else:
                failures.append(f"{tag}: {status}: {detail[:300]}")
                if not quiet:
                    print(f"FAIL  {tag}: {status}: {detail[:300]}")

        # --- drift NEGATIVE CONTROL: the unguarded workload must
        # ABSORB the same drift silently (healthy row counts, NULL /
        # partial totals, clean-oracle mismatch) — pinning the class
        # the pass exists to catch; if Spark ever starts rejecting
        # drifted reads, this turns red and the tier gets redesigned
        if (only is None or DRIFT_CONTROL in only) and DRIFT_CONTROL in qs:
            tag = f"{DRIFT_CONTROL}[drift-control]"
            try:
                from pyspark.sql import functions as F

                q = qs[DRIFT_CONTROL]
                h.begin(DRIFT_CONTROL, phase=1, variant="drift")
                q.fn(spark, SRC)
                h.begin(DRIFT_CONTROL, phase=2, variant="drift")
                status, _ = compare_one(
                    spark, con, DRIFT_CONTROL, q.fn, q.oracle, SRC
                )
                res = q.fn(spark, SRC)
                n_total = res.agg(F.sum("n")).collect()[0][0]
                n_null_totals = res.filter(F.col("total").isNull()).count()
                n_events = con.execute(
                    "SELECT count(*) FROM events").fetchone()[0]
                if status == "ok":
                    raise AssertionError(
                        "unguarded control MATCHED its clean oracle "
                        "under drift — the absorption class vanished")
                if n_total != n_events or n_null_totals == 0:
                    raise AssertionError(
                        f"expected silent absorption (row counts "
                        f"conserved, NULL totals): sum(n)={n_total} "
                        f"vs {n_events} rows, {n_null_totals} "
                        f"NULL-total windows")
                n_ok += 1
                if not quiet:
                    print(f"ok    {tag} (absorbed: {n_null_totals} "
                          f"NULL-total windows, row counts conserved)")
            except Exception as ex:  # noqa: BLE001 — reporting tool
                failures.append(f"{tag}: {repr(ex)[:300]}")
                if not quiet:
                    print(f"FAIL  {tag}: {repr(ex)[:300]}")
    finally:
        ws._stage_events = orig_stage
        S.run_to_memory = orig_run
        shutil.rmtree(h.base, ignore_errors=True)
    return n_ok, n_skip, failures

