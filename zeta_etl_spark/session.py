"""SparkSession factory for the engine.

The reference runs on Databricks with Photon + AQE enabled by default; the
open-source equivalent is a session with AQE, broadcast-join auto-detection and
UTC timestamps (determinism: SURVEY.md §5).  Every knob set here exists in OSS
Spark — no proprietary configs.

Scale notes (100 TB design):
- AQE handles runtime coalescing of shuffle partitions and skew-join splitting,
  so `spark.sql.shuffle.partitions` is an upper bound, not a tuning cliff.
- `spark.sql.execution.arrow.pyspark.enabled` keeps the pandas-UDF path (used
  only by the multimodal stubs) on the Arrow fast path.
- Session timezone is pinned to UTC so event-time semantics are stable across
  driver/executor locales (reference pins hourly buckets via ``date_trunc``,
  zetadex-transactions-helius-pipeline.py:784).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "zeta-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession tuned for this engine.

    ``shuffle_partitions`` defaults to the core count — at cluster scale this
    would be ~2-3× total cores; AQE coalesces small shuffles back down, so
    over-provisioning is safe while under-provisioning causes spill.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle = shuffle_partitions or int(DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Prefer shuffled-hash over sort-merge when the planner can prove the
        # build side fits (guide §3.1/§9): the graph/pair query family
        # (kcore, item-item CF, HITS, degree assortativity, sparse cosine)
        # spends most of its join time in SMJ sorts of the fact side.  Both
        # knobs are SIZE-BOUNDED, so they self-revert to sort-merge when a
        # build side is genuinely large — the decision scales with data, not
        # with the local core count.  The AQE threshold additionally rewrites
        # SMJ→SHJ at runtime from OBSERVED per-partition sizes (safe under
        # mis-estimated stats).  Parameterized for cluster tuning; the
        # per-task build memory bound is threshold × concurrent tasks.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP", "128m"),
        )
        # collect_set/collect_list aggregations (the basket/posting/top-k
        # array shapes in operators/graph.py and the dedup family) run in
        # ObjectHashAggregate, which abandons its hash map for a SORT-BASED
        # fallback after only 128 distinct keys per partition (the Spark
        # default, sized for unbounded agg state).  Our per-key state is
        # small and bounded (baskets ≤ ~25 items, rank-capped lists ≤ 12),
        # so the fallback just re-sorts every fact row for nothing.  4096
        # keys × a few hundred bytes ≈ 1-2 MB of map per task — safely
        # inside executor memory at any scale; env-parameterized for
        # cluster tuning (lower it for queries with genuinely fat agg
        # state).
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            os.environ.get("SPARK_GRAFT_OBJ_AGG_FALLBACK", "4096"),
        )
        # keep the default 10 MB broadcast threshold: raising it makes Spark
        # broadcast fact tables at small SF, which inverts the plan at scale.
        # True dimensions are hinted with F.broadcast() at the call sites;
        # AQE runtime-broadcasts anything that turns out small.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # field-id resolution for id-mode column-mapped Delta tables
        # (sinks/delta_log.py).  Set at session setup BY DESIGN (ADVICE
        # r11 #3): the flag must be live when the lazy mapped scan
        # executes, and it only changes resolution for scans whose read
        # schema carries parquet.field.id metadata — every other read is
        # unaffected.  _scan_live still sets it defensively for foreign
        # sessions not built here.
        .config("spark.sql.parquet.fieldId.read.enabled", "true")
        .config("spark.sql.parquet.fieldId.write.enabled", "true")
        # local-mode single JVM: the driver IS the executor, so give it real
        # headroom (host has 128 GiB); harmless for already-running sessions
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.createHiveTableByDefault", "false")
    )
    return builder.getOrCreate()
