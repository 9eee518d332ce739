"""SparkSession factory with scale-oriented defaults.

The reference engine delegates physical execution to Spark 2.2
(``/root/reference/pom.xml:136``); we target Spark 4.x and turn on the
modern machinery the reference never had: AQE (runtime re-planning,
skew-join splitting, partition coalescing), Arrow for any Python
boundary crossing, and a broadcast threshold suited to dimension
tables.

Tunables are environment-overridable so the same code runs on
``local[32]`` for tests and on a real cluster unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Capacity of Spark's generated-class cache (default 100, LRU). The
# engine's working set is larger than that, so at 100 every class is
# evicted before its next use and each warm rerun recompiles it.
# Distinct classes compiled by a cold run of the 21 headline queries at
# sf0.1 on a 4-core host (registry order; a class shared with an earlier
# query counts once): graph_pagerank_sf 40, graph_pagerank 39,
# ml_gbdt_residual_boost 32, ml_kmeans_assign 3, ml_gridsearch_ridge 21,
# ann_ivf_pq_topk 43, dedup_minhash_pairs 12, pipeline_corpus_curation
# 41, text_bm25_scores 9, sketch_countmin_tokens 21, ann_topk_cosine 11,
# stream_watermark_append 33, stream_tumbling_counts 2,
# groupby_agg_pricing 8, dedup_exact 5, geo_radius_join 12,
# flatmap_wordcount 5, join_multiway_revenue 16, window_topn_per_group
# 14, incremental_merge_upsert 12, events_bitmap_dau 7 -- 386 in total.
# 1000 leaves 2.6x headroom over that. A warm rotation through the 21
# recompiles ~404 classes at 100 entries and 2 at 1000; after three
# rotations the driver held 180.5 MB of Metaspace at 1000, 178.2 at 100.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(app_name: str = "emma-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Scale notes (100 TB target):
    - AQE on: coalesces post-shuffle partitions, converts sort-merge to
      broadcast joins at runtime, splits skewed partitions.
    - ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound;
      on a cluster set it ~2-3x total cores.
    - Arrow on: every pandas UDF / ``mapInPandas`` crossing is batched.
    - The generated-class cache holds ``CODEGEN_CACHE_ENTRIES`` classes,
      so a long-lived session that reruns the same plan shapes compiles
      each one once.

    ``spark.sql.codegen.cache.maxEntries`` is a static conf, and the
    cache is per JVM: it is sized when the first session in the JVM
    triggers codegen. If a session built elsewhere got there first, the
    cache keeps that session's size and this call does not change it.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # read timestamp[ns] parquet columns as long; the IO layer converts
        # them back to (truncated) timestamps — Spark has no native NANOS.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # PySpark 4 wraps EVERY DataFrame API call in call-site capture
        # for error context: a Python stack walk plus ~4 py4j round trips
        # (conf.get + PySparkCurrentOrigin.set/clear) PER CALL. Measured
        # with cProfile at sf0.1, turning it off cut the Python-side
        # plan-building time of ml_gbdt_residual_boost from 2.30 s to
        # 1.30 s and of pipeline_corpus_curation from 1.94 s to 1.14 s.
        # (Those build times also hold the Spark jobs that pinned
        # subplans run under AQE while the plan is built, so they are not
        # a pure plan-construction or codegen floor.) Driver-side plan
        # building is serial overhead at ANY cluster scale. Cost: error
        # messages lose the Python-file:line fragment (JVM-side plan
        # context is unaffected). SPARK_GRAFT_DF_DEBUG="1"/"true"/"yes"
        # turns it back on for interactive debugging. PySpark caches
        # is_debugging_enabled() process-wide on first use, so the conf
        # must be set on the FIRST session created in the process.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            "true"
            if os.environ.get("SPARK_GRAFT_DF_DEBUG", "").lower()
            in ("1", "true", "yes")
            else "false",
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif os.environ.get("SPARK_GRAFT_MASTER"):
        # honored explicitly (not only via the import-time DEFAULT_CPUS
        # read) so the contract survives late env changes and
        # spark-submit wrappers.
        builder = builder.master(os.environ["SPARK_GRAFT_MASTER"])
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    return builder.getOrCreate()
