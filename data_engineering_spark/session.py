"""SparkSession factory tuned for the engine.

The reference creates its session through Glue (``SparkContext →
GlueContext → spark_session``, reference ``Talent_Opportunity_Platform/
AWS_GLUE_ETL.py:61-63``) and sizes parallelism per job via Glue worker
counts (``Airflow_week.py:135,347,356-359``). Here the equivalent knobs are
Spark confs, chosen for the 100 TB design point:

- **AQE on** (coalesce post-shuffle partitions, runtime broadcast
  conversion, skew-join splitting) so plans re-optimize with real stats —
  this replaces the reference's hand-picked 2/10/20-worker sizing.
- ``spark.sql.shuffle.partitions`` defaults to a multiple of local cores;
  on a real cluster AQE coalescing makes the initial number a ceiling, not
  a target.
- Session timezone pinned to **UTC** so date/timestamp rendering matches
  the DuckDB oracle byte-for-byte (the reference instead hard-codes UTC+9
  arithmetic everywhere, e.g. ``AWS_GLUE_ETL.py:119``; we expose that as an
  explicit INTERVAL op, see ``functions/scalar.py``).
- Arrow enabled: every pandas_udf / applyInPandas boundary is
  Arrow-vectorized, never row-at-a-time pickling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "prepare_session"]


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    except ValueError:
        return os.cpu_count() or 4


def get_spark(app_name: str = "data-engineering-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local session with scale-appropriate defaults."""
    n = cpus or _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # iterative ops (pagerank_integer, prefix_sum, canonical
        # assignment) write one cluster checkpoint per round under
        # reliable_checkpoints=True; without this cleaner flag Spark
        # never removes superseded rounds and a long run accumulates one
        # full score-table copy per iteration in the checkpoint dir
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    spark = builder.getOrCreate()
    prepare_session(spark)
    return spark


def prepare_session(spark: SparkSession) -> SparkSession:
    """Set runtime-mutable confs we depend on, on an externally-built session.

    The correctness driver hands us its own SparkSession; only runtime-
    settable confs can be fixed up here (timezone matters for oracle
    parity, AQE for plan quality).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Partition values stay strings (the reference's bkup_dt yyyyMMdd keys
    # are strings, BkupRs.py:234-239; inference would coerce them to int).
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # Runtime bloom-filter injection is left at Spark's own default
    # (ON; a fresh 4.1.2 session reads true), r15. History: injection
    # is gated on a ≥10 GB application-side SCAN, but plans rooted in
    # cached relations bypass that estimate, and the r14 4-batch replay
    # plans carried ~80 injected bloom_filter_agg scalar subqueries over
    # batch-sized cached relations — r14 turned injection off
    # session-wide on that evidence (~15% of the replay) plus the r10
    # driver-heap finding (the sizing caps below bound that side). r15
    # removed the misfire surface itself: the replays derive their pair
    # log in ONE batch-ordered plan (streaming/incremental_dedup.py),
    # and the interleaved A/B on the new plans shows injection now WINS
    # or ties everywhere it fires — dedup_minhash_portable 3.59 vs
    # 4.06 s, flagship_serving_index 1.62 vs 1.82 s, canonical_portable
    # 7.67 vs 8.70 s, capped embed replay 3.16 vs 3.55 s,
    # st_streaming_dedup flat — so the r14 session-wide off-default (a
    # config fix for an algorithm problem) is retired per the r14
    # verdict's own item 2. The sizing caps below still bound a
    # misfired build to ~100 KB per task; tests/test_plans.py pins that
    # the replay and pagerank plans build no bloom over a cached
    # relation.
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.expectedNumItems", "100000")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "4194304")
    return spark
