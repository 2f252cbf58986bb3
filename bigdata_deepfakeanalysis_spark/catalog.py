"""Loaders for the driver's parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet per table per scale-factor dir.
"""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (region
# is 5 rows, nation 25 at every SF; customer/supplier/part scale but stay
# orders of magnitude under the fact tables).
ALWAYS_BROADCAST = ("region", "nation")


# events.ts is parquet TIMESTAMP(NANOS); reading it with this
# user-specified schema forces the physical INT64 through as a long.
# Depending on the Spark build the long comes back as NANOS (legacy
# nanosAsLong behavior) or µs (the 4.x TIMESTAMP_NTZ conversion path) —
# _events_ts_ns normalizes either to exact nanos by magnitude (epoch-µs
# ≈ 1.7e15 vs epoch-ns ≈ 1.7e18; the generator's timestamps are whole
# µs, so µs*1000 is exact).
EVENTS_READ_SCHEMA = (
    "event_id long, ts long, user_id long,"
    " event_type string, value double, props string"
)

_NS_MAGNITUDE = 10**17


def events_select(df: DataFrame) -> DataFrame:
    """Normalize a raw events scan (EVENTS_READ_SCHEMA) to the engine
    shape: µs-truncated ``ts`` timestamp (for window/streaming APIs) +
    exact ``ts_ns`` bigint (for oracle-exact arithmetic)."""
    from pyspark.sql import functions as F

    is_ns = F.col("ts") >= F.lit(_NS_MAGNITUDE)
    # integer div only: float division of epoch-ns longs (≈1.7e18) would
    # round through double above 2^53
    ts_us = F.when(is_ns, F.expr("ts div 1000")).otherwise(F.col("ts"))
    ts_ns = F.when(is_ns, F.col("ts")).otherwise(F.col("ts") * 1000)
    return df.select(
        "event_id",
        F.timestamp_micros(ts_us).alias("ts"),
        ts_ns.alias("ts_ns"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Column pruning + predicate pushdown reach the
    parquet reader because we return the raw declarative scan.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's native
    timestamp type cannot hold (µs max) — we force the INT64 through as
    a long (see EVENTS_READ_SCHEMA) and expose BOTH the exact ``ts_ns``
    (bigint) and a µs-truncated ``ts`` timestamp. Oracle SQL mirrors the
    truncation with ``make_timestamp(epoch_ns(ts)//1000)``.
    """
    if name == "events":
        return events_select(
            spark.read.schema(EVENTS_READ_SCHEMA).parquet(
                f"{sf_dir}/{name}.parquet"
            )
        )
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Interpolate into oracle SQL to see the same µs-truncated events table
# that Spark sees (keep trailing-column order irrelevant — oracles select
# explicit columns).
EVENTS_US_CTE = (
    "events_us AS (SELECT event_id,"
    " make_timestamp(epoch_ns(ts)//1000) AS ts,"
    " epoch_ns(ts) AS ts_ns,"
    " user_id, event_type, value, props FROM events)"
)


def staging_dir(name: str) -> Path:
    """Fixture-staging directory for queries that must materialize local
    files (image tree, JSON/CSV round-trips, file-stream source).

    Root is ``$SPARK_GRAFT_STAGING_DIR`` (default: the system temp dir)
    so a sandboxed driver can point staging somewhere writable; the
    queries that stage fixtures register LAST so an unwritable sandbox
    costs only those entries, never the pure-compute coverage."""
    root = Path(
        os.environ.get("SPARK_GRAFT_STAGING_DIR", tempfile.gettempdir())
    )
    d = root / "bigdata_dfa_staging" / name
    d.mkdir(parents=True, exist_ok=True)
    return d


# Session-shared intermediates (LSH candidate pairs, the co-purchase
# edge list, basket tables), keyed by (applicationId, realpath(sf_dir),
# data version, key) — see shared_artifact.
_ARTIFACTS: dict[tuple, DataFrame] = {}


def _data_version(sf_dir: str) -> tuple:
    """(table, size, mtime_ns) of every existing input parquet — a
    rewritten input yields a new version, so its artifacts rebuild."""
    version = []
    for t in TABLES:
        try:
            st = os.stat(f"{sf_dir}/{t}.parquet")
        except FileNotFoundError:
            continue
        version.append((t, st.st_size, st.st_mtime_ns))
    return tuple(version)


def shared_artifact(
    spark: SparkSession, sf_dir: str, key, build
) -> DataFrame:
    """The one way an expensive intermediate is materialized ONCE and
    shared by many queries: ``build()`` returns a plain plan, and this
    pins it with an eager ``localCheckpoint`` per (applicationId,
    realpath(sf_dir), input data version, ``key``). On a cluster the
    same artifact would be a bucketed parquet table; every consumer's
    oracle recomputes it in SQL, so the cache is a pure optimization.

    Entries from another applicationId are dropped without
    ``unpersist()``: one JVM holds one live SparkContext, so a new app
    id means the old context — and its checkpoint blocks — is gone.
    Concurrent first calls both build; ``setdefault`` keeps the
    first writer's frame."""
    app_id = spark.sparkContext.applicationId
    for stale in [k for k in _ARTIFACTS if k[0] != app_id]:
        _ARTIFACTS.pop(stale, None)
    full_key = (app_id, os.path.realpath(sf_dir), _data_version(sf_dir), key)
    cached = _ARTIFACTS.get(full_key)
    if cached is not None:
        return cached
    built = build().localCheckpoint(eager=True)
    return _ARTIFACTS.setdefault(full_key, built)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for spark.sql() use."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
