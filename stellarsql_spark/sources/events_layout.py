"""Hour-partitioned events layout: the decode-free tumbling aggregate.

The round-7 decomposition (SCALE.md round-7 addendum) showed
`b_stream_tumbling`'s 1000×-depth gap vs an embedded engine is COLUMN
DECODE + per-row expression work (~120M vs ~290M rows/s), not the
aggregate (map-side total, ≤ hours×types groups) and not the plan.  A
layout can delete that per-row work entirely, the same way the
custkey buckets delete `b_join_inner`'s exchanges (sources/bucketed.py):

- **partition coarse, sort fine** (the Delta/Iceberg event-lake rule):
  hive dirs by event DAY, rows within each file sorted by
  (epoch-hour, type) with the hour MATERIALIZED as a BIGINT column.
  The tumbling key is then a dictionary/RLE run over sorted
  low-cardinality values — near-zero decode — and the query reads
  ZERO timestamp bytes and evaluates ZERO floor expressions per row.
  Hour-granularity dirs were A/B'd and REJECTED: at the 300× tier
  720 hour-files are ~30 k rows each and per-file open/schedule
  overhead made the twin slower than the plain form (0.72 s vs
  0.49 s), while day dirs keep files right-sized at every tier
  (0.30 s; at 1000× day-files split at row-group boundaries so
  parallelism is preserved).  Time-bounded queries still prune day
  dirs at planning time and hour ranges via row-group min/max (tight,
  because sorted).  `writeStream.partitionBy(day)` is exactly how a
  Structured Streaming sink lands this layout at 100 TB.
- **surrogate `type_id` int key at rest** (star schema) — the 5-row
  `event_type` dimension is written once beside the facts; the
  aggregate groups on a 4-byte int and the name is recovered AFTER
  the rollup through a broadcast join of ~3 600 rows × 5.  This is
  NOT the r6 dictionary-encoding lever that lost its A/B (SCALE.md
  round-6: 5 string compares per row at *query* time) — the encode
  cost here is paid once at ingest, never per query.
- **integer cents materialized at rest** — `round(value*100)` leaves
  the per-row path; the sum is a pure BIGINT reduce.

The DuckDB oracle reads the ordinary un-partitioned parquet: the
layout IS the Spark-side optimization being measured, same contract
as `b_join_inner_bucketed`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stellarsql_spark.artifacts import materialize
from stellarsql_spark.catalog import load_table
from stellarsql_spark.functions.exact import cents
from stellarsql_spark.registry import register

US_PER_HOUR = 3_600_000_000


# Identical result contract to b_stream_tumbling
# (streaming/windows.py) — the twin measures the layout, not a
# different query.
_TUMBLING_ORACLE = """
SELECT DATE_TRUNC('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


def ensure_hour_layout(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize (once per fingerprint, see ``artifacts``) the
    hour-partitioned events lake under one root
    ``<warehouse>/events_hr_<tag>/``:

    ``facts/``  hive dirs ``event_day=N/`` (days since epoch), one
        file per day sorted by (event_hour, type_id); all source
        columns kept (ts included — the layout loses no information)
        with ``event_type`` replaced by ``type_id`` and ``event_hour``
        (epoch-hour BIGINT) and ``cts`` (integer cents) added;
    ``types/``  the 5-row type dimension (``type_id``,
        ``event_type``), ids dense in name order so rebuilds are
        deterministic.

    Plain ``spark.read.parquet`` discovers the hive partitions, so no
    catalog state is needed (unlike bucketing, which only the session
    catalog can carry).  Returns (facts_dir, types_dir)."""

    def _build(out: str) -> None:
        fact_dir, dim_dir = os.path.join(out, "facts"), os.path.join(out, "types")
        e = load_table(spark, sf_dir, "events")
        dim = (
            e.select("event_type")
            .distinct()
            .sort("event_type")
            .select(
                F.row_number().over(Window.orderBy("event_type")).cast("int").alias("type_id"),
                "event_type",
            )
        )
        dim.coalesce(1).write.mode("overwrite").parquet(dim_dir)
        dim_b = F.broadcast(spark.read.parquet(dim_dir))
        h = F.unix_micros("ts")
        fact = (
            e.join(dim_b, "event_type")
            .select(
                "event_id",
                "ts",
                "user_id",
                "type_id",
                "value",
                cents("value").alias("cts"),
                "props",
                ((h - (h % US_PER_HOUR)) / US_PER_HOUR).cast("bigint").alias("event_hour"),
                F.floor(h / (24 * US_PER_HOUR)).cast("bigint").alias("event_day"),
            )
            # hash-repartition on the partition key so each day lands
            # wholly in one task → exactly one file per hive dir (a
            # straight partitionBy write would emit width×days files),
            # then sort within so the hour/type columns become RLE runs.
            .repartition("event_day")
            .sortWithinPartitions("event_day", "event_hour", "type_id")
        )
        fact.write.mode("overwrite").partitionBy("event_day").parquet(fact_dir)

    root = materialize(spark, "events_hr", sf_dir, ("events",), _build)
    return os.path.join(root, "facts"), os.path.join(root, "types")


@register("b_stream_tumbling_bucketed", oracle=_TUMBLING_ORACLE,
          tags=("streaming", "window", "bucketed"))
def b_stream_tumbling_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly tumbling aggregate on the time-bucketed at-rest
    layout: same result set as `b_stream_tumbling`, near-zero per-row
    expression work.

    Per-row cost collapses to decoding three small integer columns
    (`event_hour` BIGINT — an RLE run, the data is sorted on it —
    `type_id` INT, `cts` BIGINT): no ts decode, no floor expression,
    the group hash is on (long, int), and the money sum is a BIGINT
    reduce.  The only
    exchange carries the map-side partials (≤ hours×types rows per
    task, ~3 600 total) and the type-name decode join broadcasts a
    5-row dimension AFTER the rollup — asserted in
    tests/test_round8.py.  At 100 TB this is the layout a streaming
    sink produces anyway (`writeStream.partitionBy(hour)`), so the
    query-time win is free, and time-bounded queries additionally
    prune whole hour directories at planning time."""
    fact_dir, dim_dir = ensure_hour_layout(spark, sf_dir)
    # AQE off on a cloned session (same mechanism as the skew keys,
    # opposite direction): every exchange in this plan is ≤ hours×types
    # rows (~3.6 k), so runtime re-planning has nothing to optimize and
    # its per-stage re-optimization round trips are pure floor —
    # measured at 1000×: 0.44 s without AQE vs 0.69-0.85 s with, on an
    # identical physical plan. On a cluster the same reasoning holds:
    # AQE earns its latency on data-sized shuffles, not on rollups of
    # pre-aggregated partials.  Reducer count follows the OUTPUT
    # cardinality too (r10, same rule as the plain form): 8 reducers
    # for a ~3.6k-row shuffle, not 32 — the extra 24 near-empty tasks
    # were pure launch overhead (measured 0.76 s → 0.39 s at 300×,
    # 0.49 s → 0.33 s at 1000×).
    s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.session.timeZone", "UTC")
    f = s2.read.parquet(fact_dir).select("event_hour", "type_id", "cts")
    d = s2.read.parquet(dim_dir)
    return (
        f.groupBy("event_hour", "type_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum("cts") / 100.0).cast("double").alias("total_value"),
        )
        .join(F.broadcast(d), "type_id")
        .select(
            F.timestamp_micros(F.col("event_hour").cast("bigint") * US_PER_HOUR).alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# --- Served form: the maintained hourly rollup (C240) ---------------------------------

def ensure_hourly_rollup(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize the hourly rollup TABLE itself:
    (event_hour, type_id, n_events, sum_cts), ~3.6 k rows, derived
    from the hour layout (an input, so a layout rebuild rebuilds it).
    This is the at-rest aggregate a streaming job maintains
    incrementally (b_ts_rollup_incremental's merge pattern /
    foreachBatch upsert); dashboards read THIS, not raw events."""
    fact_dir, dim_dir = ensure_hour_layout(spark, sf_dir)

    def _build(out: str) -> None:
        (
            spark.read.parquet(fact_dir)
            .groupBy("event_hour", "type_id")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("cts").cast("bigint").alias("sum_cts"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(out)
        )

    root = materialize(
        spark, "events_hourly", sf_dir, (os.path.dirname(fact_dir),), _build
    )
    return root, dim_dir


@register("b_stream_tumbling_served", oracle=_TUMBLING_ORACLE,
          tags=("streaming", "window", "served"))
def b_stream_tumbling_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C240: the SERVED form of the hourly tumbling aggregate — read
    the maintained at-rest rollup (~3.6 k rows) instead of re-scanning
    events.  Same result contract as b_stream_tumbling and its layout
    twin; the chain plain → layout-twin → served is the full lakehouse
    story: at 100 TB the streaming sink maintains this table
    incrementally (foreachBatch upsert, b_stream_exactly_once's
    mechanism) and every dashboard query costs O(hours×types), not
    O(events).  The fingerprinted artifact build stands in for the
    incremental maintenance; equality against the from-raw twins is
    the test contract.

    Scale shape: one ~3.6 k-row scan, a 5-row broadcast name join,
    zero data-sized anything at query time."""
    rollup_dir, dim_dir = ensure_hourly_rollup(spark, sf_dir)
    s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "1")
    s2.conf.set("spark.sql.session.timeZone", "UTC")
    r = s2.read.parquet(rollup_dir)
    d = s2.read.parquet(dim_dir)
    return (
        r.join(F.broadcast(d), "type_id")
        .select(
            F.timestamp_micros(F.col("event_hour").cast("bigint") * US_PER_HOUR).alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            (F.col("sum_cts") / 100.0).cast("double").alias("total_value"),
        )
    )
