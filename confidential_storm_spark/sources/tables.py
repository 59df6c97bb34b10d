"""Parquet table sources for the driver's test data.

The reference's sources are spouts (SURVEY §2.1 S1-S6); in batch Spark
a source is a parquet scan, and the canonical DP input relation
``contributions(user_id, key, value, event_time, producer_id, seq,
epoch)`` (FIXTURES.md §1) is *derived* from the ``events`` table with
pure column expressions so that a DuckDB oracle can derive the exact
same relation.

Scale note: scans stay predicate-pushdown/column-pruning friendly —
all derivations are Catalyst expressions (no UDFs), so Parquet reads
only the referenced columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

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

# Fixed epoch origin for deriving the DP time-step from event_time.
# The driver's events table spans January 2024; one epoch == one day.
EPOCH_ORIGIN = "2024-01-01"


def _origin_days() -> int:
    """EPOCH_ORIGIN as whole days since 1970-01-01 (timezone-free)."""
    import datetime as _dt

    return _dt.date.fromisoformat(EPOCH_ORIGIN).toordinal() - _dt.date(
        1970, 1, 1
    ).toordinal()

# Number of synthetic upstream producers for replay/merge fixtures
# (stands in for the reference's P perturbation replicas).
NUM_PRODUCERS = 4


# Compute-heavy tables whose scans should span every core.  A small
# parquet (single row group) arrives as ONE input split, which would
# run all downstream expression work on one core; repartition to the
# session's parallelism when that happens.  At warehouse scale the
# scan itself provides >= defaultParallelism splits and this never
# fires — the check is driver-side plan inspection, not a job.
# Only the table dominated by interpreted higher-order expressions /
# Arrow UDFs (text shingling, per-gram hashing) is spread: there the
# per-row cost dwarfs one narrow shuffle.  Scan-aggregate tables
# (lineitem/orders/events), the embeddings table (vectorized numpy
# over few MB — fan-out overhead beats the win), and broadcast-side
# dimensions are left alone — whole-stage codegen chews through a
# single split faster than the extra exchange pays back at bench
# scale.
_SPREAD_TABLES = {"documents"}


# Session-scoped memo of RESOLVED table plans: (applicationId, sf_dir,
# name, file size, file mtime) -> DataFrame.  ``spark.read.parquet``
# costs ~75-100 ms of driver work per call (data-source resolution,
# file index, footer/schema read), and the registry's ~300 loads per
# bench pass made that ~25-30 s of pure fixed cost — a warehouse
# resolves a table through its catalog once, not per query.  This
# memoizes the UNRESOLVED-plan DataFrame only: every action still
# computes from the parquet files (no data or result is cached), and
# the size+mtime key invalidates the entry the moment anything
# rewrites the table (an overwritten table gets a fresh file index).
# A directory-layout table is never memoized: its top-level mtime does
# not change when a nested file is rewritten in place.
_TABLE_MEMO: dict[tuple, DataFrame] = {}
_TABLE_MEMO_MAX = 256


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    import os as _os

    path_ = f"{sf_dir}/{name}.parquet"
    if _os.path.isdir(path_):
        return _load_table_uncached(spark, sf_dir, name)
    try:
        st = _os.stat(path_)
        sig: tuple = (st.st_size, st.st_mtime_ns)
    except OSError:
        sig = ()
    app_id = getattr(spark, "_css_app_id", None)
    if app_id is None:
        app_id = spark.sparkContext.applicationId
        spark._css_app_id = app_id
    key = (app_id, sf_dir, name, sig)
    hit = _TABLE_MEMO.get(key)
    if hit is not None:
        return hit
    df = _load_table_uncached(spark, sf_dir, name)
    if len(_TABLE_MEMO) >= _TABLE_MEMO_MAX:
        _TABLE_MEMO.clear()
    _TABLE_MEMO[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet has stored ts as TIMESTAMP(NANOS) in some
        # driver generations (Spark 4 rejects that unless read as long
        # nanos) and plain timestamp[us] in others.  Keep the legacy
        # conf set so nanos files load on ANY caller-provided session;
        # downstream code dispatches on the actual dtype via
        # :func:`ts_to_micros`.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if name in _SPREAD_TABLES:
        target = spark.sparkContext.defaultParallelism
        # decide "would the scan yield fewer than target splits" from
        # the file size when the table is a single local file (this
        # environment's layout): the df.rdd probe it replaces forces
        # full physical planning, ~0.1 s PER LOAD x ~60 registry
        # queries that read documents.  Spark sizes splits as
        # min(maxPartitionBytes, max(openCostInBytes, bytes/target)),
        # so a single file already scans at >= target splits once
        # bytes >= target * openCostInBytes (4 MiB default) — below
        # that the split floor is openCost and the scan yields fewer.
        # (The round-11 form compared against target*maxPartitionBytes
        # and would have added a full-shuffle repartition the probe
        # skipped for files in [target*4MiB, target*128MiB).)
        import os as _os

        if _os.path.isfile(path):
            try:
                open_cost = int(
                    spark.conf.get("spark.sql.files.openCostInBytes", str(4 << 20))
                )
            except ValueError:  # a "4m"-style spelling: keep the default
                open_cost = 4 << 20
            small = _os.path.getsize(path) < target * open_cost
        else:  # directory/table layout: fall back to the exact probe
            small = df.rdd.getNumPartitions() < target
        if small:
            df = df.repartition(target)
        # spread is now ENSURED either way (repartitioned, or the scan
        # itself yields >= target splits): tag the frame so operators'
        # _spread() can skip its physical-planning partition probe on
        # narrow transforms of this table (dedup._spread hint contract)
        df._css_min_parts = target
    return df


def ts_to_micros(df: DataFrame, ts_col: str = "ts") -> Column:
    """``events.ts`` as epoch MICROSECONDS (long), whatever the
    parquet presents: plain ``timestamp[us]`` (read as TIMESTAMP_NTZ —
    the current driver data) or legacy TIMESTAMP(NANOS) read as long
    nanos.  The NTZ branch is naive epoch arithmetic (timezone-free),
    exactly the value DuckDB's ``epoch_us(ts)`` computes, so oracles
    agree regardless of session timezone.  A session that disables
    ``inferTimestampNTZ`` reads the column as TIMESTAMP_LTZ instead —
    ``unix_micros`` handles that branch (UTC-anchored, so it matches
    epoch_us for data written as naive-UTC micros)."""
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    dt = df.schema[ts_col].dataType
    if isinstance(dt, LongType):
        return F.expr(f"{ts_col} div 1000")
    if isinstance(dt, TimestampNTZType):
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col})"
        )
    if isinstance(dt, TimestampType):
        return F.unix_micros(F.col(ts_col))
    raise TypeError(f"{ts_col}: unsupported timestamp dtype {dt.simpleString()}")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def contributions_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical DP contribution stream derived from ``events``.

    Column mapping (FIXTURES.md §1 -> driver's events schema):
    - user_id      <- cast(user_id as string)
    - key          <- event_type || '-' || (int(props.k) % 10)   (richer key space)
    - value        <- value
    - event_time   <- ts
    - producer_id  <- 'p' || (user_id % NUM_PRODUCERS)
    - seq          <- event_id (monotonic per producer is NOT guaranteed;
                      replay fixtures derive per-producer sequence numbers)
    - epoch        <- days since EPOCH_ORIGIN (the reference's 5 s tick
                      becomes a 1-day tumbling logical window in batch mode)

    Mirrors BaselineSpout's record shape (key, count, userId, routingKey)
    — the routing key is unnecessary: ``groupBy`` hash-partitions for us
    (ref AbstractUserContributionBoundingServiceProvider.java:103-105).
    """
    ev = load_table(spark, sf_dir, "events")
    # normalize ts (timestamp[us] or legacy long nanos) to a
    # microsecond timestamp — the granularity DuckDB's native
    # TIMESTAMP sees, so ordering matches the oracle exactly
    event_time = F.timestamp_micros(ts_to_micros(ev))
    return ev.select(
        F.col("event_id"),
        F.col("user_id").cast("string").alias("user_id"),
        F.concat(
            F.col("event_type"),
            F.lit("-"),
            (F.regexp_extract(F.col("props"), "[0-9]+", 0).cast("int") % 10).cast("string"),
        ).alias("key"),
        F.col("value"),
        event_time.alias("event_time"),
        F.concat(F.lit("p"), (F.col("user_id") % NUM_PRODUCERS).cast("string")).alias(
            "producer_id"
        ),
        F.col("event_id").alias("seq"),
        # epoch = day-of-event minus day-of-origin, computed in pure
        # micros arithmetic on the naive-UTC timeline: timezone-FREE,
        # so it matches DuckDB's CAST(ts AS DATE) (naive) and the
        # streaming event-time window derivation (UTC-aligned
        # F.window, streaming/keyed.py) in ANY session timezone —
        # event_time.cast("date") would shift at the session TZ's
        # midnights instead
        (
            F.floor(ts_to_micros(ev) / F.lit(86_400_000_000)) - F.lit(_origin_days())
        )
        .cast("int")
        .alias("epoch"),
    )


# The equivalent ANSI-SQL derivation, used as a CTE prefix by every
# oracle query so DuckDB sees the identical relation.
CONTRIBUTIONS_SQL = f"""
SELECT
    event_id,
    CAST(user_id AS VARCHAR)                            AS user_id,
    event_type || '-' ||
        CAST(CAST(regexp_extract(props, '[0-9]+') AS INTEGER) % 10 AS VARCHAR) AS key,
    value,
    ts                                                  AS event_time,
    'p' || CAST(user_id % {NUM_PRODUCERS} AS VARCHAR)   AS producer_id,
    event_id                                            AS seq,
    datediff('day', DATE '{EPOCH_ORIGIN}', CAST(ts AS DATE)) AS epoch
FROM events
"""
