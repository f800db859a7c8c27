"""Table loaders for the driver-generated parquet test data (TESTDATA.md).

The reference consumes a Pulsar topic (``src/pulsar.ts:27-34``); the engine's
batch surface reads parquet. ``messages_view`` reshapes the ``events`` table
into the reference's message schema (FIXTURES.md §A.1) so dedup operators run
against the same shape the reference processes:
``value: binary, properties: map<string,string>, event_ts: timestamp``.

Scale note: a parquet scan here is a distributed columnar read; Catalyst
pushes filters/projections into it (tests assert ``PushedFilters`` /
``ReadSchema``), which is what makes the same code viable at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_confs

TABLES = [
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
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table; normalize the events timestamp to TIMESTAMP (LTZ).

    events.parquet has shipped two physical ``ts`` encodings across driver
    generations, and this loader accepts both:

    * parquet TIMESTAMP(NANOS) — Spark 4 cannot map nanos to TimestampType,
      so it is read as a long via ``spark.sql.legacy.parquet.nanosAsLong``
      and truncated ns -> µs by integer floor division (exactly DuckDB's
      behavior);
    * parquet ``timestamp[us]`` with isAdjustedToUTC=false (the current
      generation) — Spark reads it as TIMESTAMP_NTZ, which breaks
      ``unix_micros`` / watermarks downstream; it is cast to TIMESTAMP,
      which under the engine's pinned UTC session zone is value-identical
      and matches DuckDB's naive microsecond timestamps.
    """
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # legacy TIMESTAMP(NANOS) read as ns-long
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":  # current timestamp[us] generation
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# a plan-tree line whose node is any exchange (shuffle, broadcast, reused);
# the prefix covers tree art and whole-stage-codegen ids like ``*(2)``
_EXCHANGE_NODE = re.compile(r"^[\s:|+\-*()\d]*\w*Exchange\b", re.M)


def spread_narrow_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition a scan-shaped frame to session parallelism BEFORE a
    per-row Arrow kernel — but only when the scan yields fewer partitions
    than cores (round 15, guide §2.5/§6 "input skew: one huge unsplittable
    file").

    Why: the corpus tables are single parquet files; under the default
    128 MB split size a ≤128 MB file is ONE scan partition, so every
    zero-shuffle ``mapInPandas`` kernel over it (shingle hashing,
    winnowing, media decode) ran on ONE core regardless of cluster width
    — the round-15 10× probe measured jaccard_join_prefix_filtered
    core-INSENSITIVE at ~70 s for exactly this reason (95.6 → 22.3 s
    once spread). The guard keeps the original zero-shuffle shape
    whenever the scan already has ≥ core partitions — i.e. at real
    corpus scale (thousands of splits) this is a no-op and the text/
    payload bytes still never cross a shuffle; only a narrow scan pays
    one spreading exchange, which costs less than leaving all but one
    core idle. Deterministic hash partitioning on ``keys`` (never
    round-robin: §2.5 retry-reproducibility).

    Scan-shaped only: the partition-count probe (``df.rdd``) runs every
    upstream query stage eagerly under AQE, so a frame whose physical plan
    holds an exchange raises ``ValueError`` before anything executes.
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    if _EXCHANGE_NODE.search(plan):
        raise ValueError(
            "spread_narrow_scan takes a scan-shaped frame; this plan has an "
            f"exchange:\n{plan}"
        )
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n, *[F.col(k) for k in keys])
    return df


def messages_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events reshaped to the reference's message schema (FIXTURES.md §A.1).

    | message field (reference)          | here                              |
    |------------------------------------|-----------------------------------|
    | ``getData()`` payload bytes        | ``value`` = utf8(json of row)     |
    | ``getProperties()``                | ``properties`` map<string,string> |
    | ``getEventTimestamp()``            | ``event_ts``                      |
    | ``getMessageId()``                 | ``message_id``                    |
    | ``getTopicName()``                 | ``topic``                         |

    (reference reads: ``src/deduplication.ts:108-129``)
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast("string").alias("message_id"),
        F.concat(F.lit("persistent://events/"), F.col("event_type")).alias("topic"),
        # payload carries the business content ONLY; transport/metadata
        # properties travel in the separate properties map (the reference's
        # payload-vs-properties split, src/deduplication.ts:122-129) — a
        # replica-added property must not change the payload bytes
        F.encode(F.to_json(F.struct("event_type", "value")), "UTF-8").alias(
            "value"
        ),
        F.from_json("props", "map<string,string>").alias("properties"),
        F.col("ts").alias("event_ts"),
        F.col("ts").alias("publish_ts"),
    )
