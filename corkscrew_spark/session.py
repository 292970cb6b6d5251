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
import re

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
        # AQE numbers codegen stages in re-plan order, which follows stage
        # completion order; with the id in the class name identical code
        # misses the compile cache from one call to the next.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


#: Catalyst's ``DataType.defaultSize`` for the leaf types; arrays and
#: structs sum their elements, as Catalyst does (other types count 20).
_DEFAULT_SIZE = {
    "string": 20, "binary": 100, "boolean": 1, "byte": 1, "short": 2,
    "integer": 4, "float": 4, "date": 4, "long": 8, "double": 8,
    "timestamp": 8, "timestamp_ntz": 8, "void": 1,
}

#: Observed row count of a checkpoint; popped before the caller sees it.
_ROWS = "__ckpt_rows"

_BYTE_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
               "t": 1 << 40, "p": 1 << 50}


def _default_size(dt) -> int:
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return _default_size(dt.elementType)
    if isinstance(dt, T.StructType):
        return sum(_default_size(f.dataType) for f in dt.fields)
    return _DEFAULT_SIZE.get(dt.typeName(), 20)


def _bytes_conf(value: str) -> int:
    """A Spark byte-size setting (``'10485760b'``, ``'10MB'``, ``'-1'``)
    in bytes, parsed as Spark parses it (binary units, bytes when bare)."""
    m = re.fullmatch(r"(-?)(\d+)([kmgtp]?)b?", value.strip().lower())
    if m is None:
        raise ValueError(f"not a byte size: {value!r}")
    n = int(m.group(2)) * _BYTE_UNITS[m.group(3)]
    return -n if m.group(1) else n


def broadcast_if_small(df, rows: int):
    """``df`` hinted for broadcast when ``rows`` rows of its schema fit
    ``spark.sql.autoBroadcastJoinThreshold`` — the decision Catalyst's
    JoinSelection makes for a plan whose row count it knows (size =
    rows × (8 + the schema's default row width)); ``df`` unchanged
    otherwise, and always when the threshold is negative.

    A checkpointed frame reports an unknown size (8 EiB) to the
    planner, so without this a 1-row frontier joined to the edge table
    plans as a sort-merge join, and AQE shuffles both sides before it
    converts the join. ``rows`` must be an observed count (or a bound
    on it), never a guess: a frame over the threshold keeps the shuffle
    plan, so this is safe at any scale.
    """
    from pyspark.sql import functions as F

    threshold = _bytes_conf(
        df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    width = 8 + sum(_default_size(f.dataType) for f in df.schema.fields)
    return F.broadcast(df) if rows * width <= threshold else df


def ckpt_observe(df, *metrics):
    """Eager ``localCheckpoint`` that also returns observed aggregates
    computed by the SAME materialization job, and plans the result from
    its observed size.

    Every iterative operator here pays one action per round to
    materialize the round's frame and previously paid a SECOND action
    (``isEmpty``/``count``/anti-join probe) to read its convergence
    condition. The probe is an aggregate over exactly the rows the
    checkpoint job already streams, so attaching it as an ``Observation``
    makes the materialization report it for free — one action per round
    instead of two (guide §1.4: aggregate what is already flowing;
    §2.6: rounds × barrier/driver-round-trip latency is the real cost of
    Pregel-style loops, and this halves it).

    The same job also counts the rows, and the checkpoint comes back
    through ``broadcast_if_small``: a frame that fits the broadcast
    threshold joins as the broadcast side from the round's first plan,
    instead of AQE shuffling both sides and converting the join after.
    Use the result as a join's build side. On the preserved side of an
    outer join Spark ignores the hint; with hints on both sides of an
    inner join Catalyst builds the side it estimates smaller, so a frame
    that is only ever a probe side (an edge relation joined to a
    frontier) keeps a plain ``localCheckpoint`` instead.

    Returns ``(checkpointed_df, metrics_dict)``; the dict holds only
    the caller's metrics. The observe node does not survive into the
    checkpointed plan (it scans as ExistingRDD).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    out = df.observe(obs, *metrics, F.count(F.lit(1)).alias(_ROWS)) \
        .localCheckpoint(eager=True)
    m = obs.get
    return broadcast_if_small(out, m.pop(_ROWS)), m


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
