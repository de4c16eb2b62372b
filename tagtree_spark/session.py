"""SparkSession construction and runtime tuning.

Two paths:
  * ``get_spark()`` — build our own local session (tests, bench).
  * ``tune(spark)`` — apply runtime-settable conf to a session we did NOT
    build (the driver hands us one). Only touches conf that is legal to set
    after the JVM is up.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to every session before running queries.
# UTC is load-bearing: the duckdb oracle compares naive timestamps, so both
# engines must agree on the session zone (FIXTURES.md §5.4).
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # NOT set (r13, measured): coalescePartitions.parallelismFirst=false.
    # Two full-bench A/Bs at sf0.1 read net +27s/+44s — this inventory is
    # CPU-dense per shuffle BYTE (md5 hashing, decimal folds, window
    # sorts), so byte-based advisory coalescing serializes compute-bound
    # stages (q313 3.1→11.0s, q126 2.9→5.0s) for a smaller saving on the
    # byte-light tail. The default parallelism-first rule is the right
    # call here at every core count the driver benches.
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


#: Zone ids that name UTC without being the literal string "UTC". A
#: deployment that forbids setting the conf but already runs under one of
#: these has correct timestamp semantics — don't hard-fail it (ADVICE r4).
_UTC_ALIASES = frozenset(
    {"UTC", "GMT", "GMT0", "UCT", "Z", "Zulu", "Universal", "Greenwich",
     "Etc/UTC", "Etc/GMT", "Etc/GMT0", "Etc/GMT+0", "Etc/GMT-0", "Etc/UCT",
     "Etc/Universal", "Etc/Zulu", "Etc/Greenwich",
     "+00:00", "-00:00", "GMT+00:00", "UTC+00:00"}
)


def _is_utc_equivalent(tz: str) -> bool:
    """True iff ``tz`` resolves to a fixed zero offset (alias table first,
    then zoneinfo: offset 0 on both a January and a July instant — catches
    region names the alias table misses while rejecting DST zones)."""
    if tz in _UTC_ALIASES:
        return True
    try:
        from datetime import datetime
        from zoneinfo import ZoneInfo

        z = ZoneInfo(tz)
        return all(
            datetime(2024, m, 1, tzinfo=z).utcoffset().total_seconds() == 0
            for m in (1, 7)
        )
    except Exception:
        return False


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime conf to an externally-provided session (idempotent)."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable in this deployment; keep going
    # UTC is load-bearing (io.load_table's NTZ->LTZ cast is wall-clock
    # preserving only under UTC); a silently non-UTC session would shift
    # events.ts by the zone offset. Fail loudly rather than return wrong
    # timestamps (ADVICE r3).
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        tz = None
    if tz is not None and not _is_utc_equivalent(tz):
        raise RuntimeError(
            f"spark.sql.session.timeZone is {tz!r}, not 'UTC', and could not "
            "be overridden; timestamp semantics (io.load_table NTZ cast) "
            "require a UTC session"
        )
    n = shuffle_partitions or default_parallelism()
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    except Exception:
        pass
    return spark


def spread(df, min_partitions: int | None = None):
    """Repartition iff the input arrives with fewer partitions than cores.

    Small single-file parquet inputs scan as ONE partition, serializing any
    CPU-heavy per-row work (hashing, shingling, Python batches) onto one
    core. The round-robin shuffle is trivially cheap relative to that work.
    At real scale inputs are already well-partitioned and this is a no-op —
    the condition, not the repartition, is the point.
    """
    n = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


# --------------------------------------------------------------------------
# Tracked persists: operators persist one-row-per-doc intermediates that are
# read several times within ONE query (signature tables, bucket tables).
# Those caches must not outlive the query — bench/parity run 50 queries in
# one session and untracked persists would accumulate (ADVICE r2). A blanket
# spark.catalog.clearCache() is wrong here: it would also evict the
# intentionally long-lived shared artifacts (onetime_cache.artifact).
# --------------------------------------------------------------------------

_TRACKED: list = []


def persist_tracked(df):
    """persist() + register for release_tracked(). Use for intra-query
    caches; use a plain persist() only for intentionally session-lived
    state."""
    df.persist()
    _TRACKED.append(df)
    return df


def release_tracked() -> int:
    """Unpersist every tracked intermediate (harness calls this between
    queries). Returns the number released."""
    n = len(_TRACKED)
    for df in _TRACKED:
        try:
            df.unpersist()
        except Exception:
            pass
    _TRACKED.clear()
    return n


def get_spark(app_name: str = "tagtree-spark", cpus: int | None = None) -> SparkSession:
    n = cpus or default_parallelism()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    return tune(spark, n)
