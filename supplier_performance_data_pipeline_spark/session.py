"""SparkSession factory with scale-conscious defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same configs are the
ones we would set on a 1000-executor cluster (AQE, skew-join handling,
partition coalescing, Arrow transfer). Nothing here is local-mode-only
except the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Runtime-settable engine configs: ``get_spark`` builds sessions with
# them and ``tune_session`` re-applies them to a session someone else
# built (the correctness driver's).
ENGINE_CONF = {
    # Timestamp parity with the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-batched toPandas at the serving edge: a transfer-speed
    # knob, not a semantics one — probed Arrow on vs off across
    # dtype-diverse queries (dates, timestamps, ints, doubles,
    # strings): identical pandas dtypes AND canonical renderings.
    # Pinned so a caller-provided session (the correctness driver)
    # fetches results at the same speed the engine's own sessions do.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def get_spark(
    app_name: str = "supplier-performance-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in {**ENGINE_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine configs to an existing session.

    The correctness driver hands us ITS session; these are the knobs we can
    still flip at runtime (timezone pinning matters for timestamp parity
    with the DuckDB oracle; AQE flags are runtime-settable too).
    """
    for k, v in ENGINE_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static in some envs
            pass
    # Right-size shuffles for the local harness — but ONLY when the
    # session still carries Spark's stock 200 (the driver's default
    # session): AQE coalesces batch exchanges anyway, but STREAMING
    # state stores are created one per shuffle partition at the first
    # microbatch and never coalesce, so equivalence queries would spin
    # up 200 state tasks per tiny replay. A session whose owner chose a
    # value (get_spark(shuffle_partitions=...), test fixtures, a real
    # cluster sizing the knob to the data) is left untouched.
    try:
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(DEFAULT_SHUFFLE_PARTITIONS),
            )
    except Exception:  # pragma: no cover
        pass
    return spark
