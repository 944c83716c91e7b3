"""SparkSession factory + per-session tuning.

Local-mode testing uses ``local[N]``; the same configuration is what
we would ship on a 1000-executor cluster — AQE on (runtime join
strategy switch, skew-join splitting, partition coalescing), Arrow
enabled for the pandas-UDF path, UTC session time zone so results are
comparable against the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs we also apply to sessions we did not create
# (the correctness driver hands us its own SparkSession).
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries TIMESTAMP(NANOS); read as long, convert
    # in catalog.table (Spark has no nanos timestamp type).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


_TUNED: set[int] = set()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an existing session.

    Safe to call on a session owned by someone else (the driver);
    only touches confs that are modifiable at runtime. Applied once
    per session object — table() calls this on every scan, and ~7
    py4j conf round-trips per scan add up in tight query loops.
    """
    key = id(spark)
    if key in _TUNED:
        return spark
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-modifiable in this deployment; keep going
    try:
        # Right-size shuffle parallelism if the session still carries
        # Spark's default: AQE coalesces most exchanges anyway, but
        # stateful streaming ops PIN the partition count into their
        # state store at first checkpoint — 200 state instances on an
        # 8-core driver session is pure overhead. Never override a
        # deliberately-set value.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(spark.sparkContext.defaultParallelism),
            )
    except Exception:
        pass
    _TUNED.add(key)
    return spark


def get_spark(app_name: str = "gmt_dbt_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a tuned local SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle
    partitions are sized to the core count — at cluster scale this
    becomes executor-cores × executors (AQE coalesces down from
    there), not the 200 default.
    """
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)


from contextlib import contextmanager


@contextmanager
def scoped_conf(spark, **kv):
    """Set runtime SQL confs for a scope and restore the EFFECTIVE
    value on exit. One definition replaces the hand-rolled
    save/try/finally dance in every config-scoped query and plan
    guard.

    Restore semantics (ADVICE r2): a key that raises on
    ``conf.get(k)`` with no default (truly unset, no defined default)
    is ``unset`` on exit; any other key is restored by re-setting its
    pre-scope RESOLVED value. For keys with a defined default that
    were never explicitly set, this pins the default as a session
    conf — effective values are always preserved, but 'was it
    explicitly set' is not recoverable through the RuntimeConfig API,
    so that bit is intentionally not promised."""
    saved = {}
    for k in kv:
        try:
            saved[k] = spark.conf.get(k)
        except Exception as e:
            # Only a genuine missing-key error means "unset on exit".
            # Anything else (Py4J hiccup, JVM-side failure) must NOT
            # be misread as 'key was unset' — that would silently
            # unset an explicitly-set conf when the scope closes
            # (r3 review finding).
            name = type(e).__name__
            msg = str(e)
            if "SQL_CONF_NOT_FOUND" in msg or "NoSuchElement" in name or (
                "NoSuchElement" in msg
            ):
                saved[k] = None  # unset and defaultless → unset on exit
            else:
                raise
    try:
        for k, v in kv.items():
            spark.conf.set(k, v)
        yield spark
    finally:
        for k, v in saved.items():
            if v is None:
                try:
                    spark.conf.unset(k)
                except Exception:
                    pass
            else:
                spark.conf.set(k, v)
