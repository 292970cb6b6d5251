"""SparkSession factory with scale-oriented defaults.

The reference opens a pooled embedded-DB connection per process
(pkg/query/engine.go:75-108); the Spark equivalent is one shared
SparkSession with the runtime knobs that matter at cluster scale:

* AQE on (runtime coalescing, skew-join splitting, plan re-optimization) —
  at 100 TB the static shuffle-partition guess is always wrong, AQE fixes
  it per-stage from map-output statistics.
* ``spark.sql.shuffle.partitions`` sized from the env (local runs use the
  core count; a real cluster would use 2-3x total cores — AQE coalesces
  the excess).
* Session timezone pinned to UTC so timestamp semantics are stable across
  driver/executor locales (and match the DuckDB oracle).
* Arrow enabled for the few Pandas-UDF paths (similarity / multimodal).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def sf_dir() -> str:
    """Benchmark/test data directory (driver contract)."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


def cpu_count() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "corkscrew-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    All settings are declarative-scale-safe: nothing here assumes local
    mode except the master default.
    """
    cores = cpu_count()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def ckpt_observe(df, *metrics):
    """Eager ``localCheckpoint`` that also returns observed aggregates
    computed by the SAME materialization job.

    Every iterative operator here pays one action per round to
    materialize the round's frame and previously paid a SECOND action
    (``isEmpty``/``count``/anti-join probe) to read its convergence
    condition. The probe is an aggregate over exactly the rows the
    checkpoint job already streams, so attaching it as an ``Observation``
    makes the materialization report it for free — one action per round
    instead of two (guide §1.4: aggregate what is already flowing;
    §2.6: rounds × barrier/driver-round-trip latency is the real cost of
    Pregel-style loops, and this halves it).

    Returns ``(checkpointed_df, metrics_dict)``. The observe node does
    not survive into the checkpointed plan (it scans as ExistingRDD).
    """
    from pyspark.sql import Observation

    obs = Observation()
    out = df.observe(obs, *metrics).localCheckpoint(eager=True)
    return out, obs.get


def spread(df, key):
    """Scale-adaptive parallelism floor for shuffle-free map-heavy chains.

    A chain with no exchange inherits the SCAN's partitioning — for a
    small input (one parquet file → one scan partition) the whole
    tokenize/score pipeline would run on a single core. Hash-repartition
    on ``key`` when — and only when — the scan has fewer partitions than
    the cluster has slots; at real scale the input side always has more
    partitions than cores and this is a no-op, so nothing here is a
    constant tuned for local mode.
    """
    from pyspark.sql import functions as F

    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, F.col(key))
    return df
