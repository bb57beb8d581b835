"""Local SparkSession factory.

Replaces the reference's ``spark_utils.py:3-4``
(``DatabricksSession.builder.getOrCreate()``) with a plain open-source local
session, tuned for the local[N] test harness while keeping settings that are
the right defaults on a real cluster (AQE, adaptive shuffle partitions,
Arrow-accelerated Python interop, UTC session time zone).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def tune(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine defaults to a builder (also used on foreign sessions)."""
    return (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )


def get_spark(app_name: str = "databricks-observe-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    return tune(builder).getOrCreate()


def ensure_conf(spark: SparkSession) -> SparkSession:
    """Set the runtime-settable engine defaults on an externally-created
    session (the verification driver owns its own SparkSession)."""
    # Lift ONLY the vanilla default of 200 (AQE coalesces batch shuffles
    # from there); an explicit caller pin must win, not be stomped back
    # to 32. Streams never start on this width: every stream maker in
    # streaming/state.py calls this while it builds its plan, then starts
    # through streaming.state.start_stream, which pins the state-store
    # count (fixed in the checkpoint, never touched by AQE) around
    # ``.start()``.
    try:
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)),
        # Compatibility fallback only: IF a fixture is re-materialized with
        # TIMESTAMP(NANOS) (round-1 layout), this makes it readable as BIGINT
        # instead of a hard reader error; sources/tables.normalize_events_ts
        # dtype-detects and converts either layout. No-op for the current
        # micros fixtures.
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # immutable in some deployments; defaults are acceptable
    return spark
