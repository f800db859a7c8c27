#!/usr/bin/env python
"""Single-node streaming-dedup throughput (SURVEY §6's "match the
reference's single-node throughput" axis, measured rather than argued).

The reference is one Node process doing receive → BLAKE2b → Set probe →
send per message (src/deduplication.ts:97-160) — one CPU of per-message
work, a few tens of k msg/s at best. This measures the engine's bounded
end-to-end runs on this box (local[32], memory sink; wall INCLUDES
micro-batch startup, so the msg/s figures are conservative):

- default JVM watermark TTL kernel over a 90%-duplicate replay: sf0.1
  events replicated ×10 with fresh message ids but IDENTICAL business
  content (payload = json(event_type, value) — replica-invariant), i.e.
  1M messages whose distinct-content set is the sf0.1 ~99k. This is the
  service's worst-case state traffic: every message probes state.
- exact GroupState kernel over sf0.1 as-is (100k messages): the
  per-group Python cost at digest cardinality (groups ≈ rows) — the
  measured rationale for the round-9 default-kernel flip.

Cited by BASELINE.md's "single-node streaming throughput" note.

Usage: python tools/measure_stream_throughput.py [--workdir /tmp/stream_tp]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from pulsar_topic_deduplicator_spark.session import get_spark  # noqa: E402

SF01 = "/root/testdata/sf0.1"
REPLICAS = 10
_ID_STRIDE = 10_000_000_000

WORKDIR = "/tmp/stream_tp"


def build_replay(spark, replicas: int = REPLICAS, name: str = "replay") -> str:
    """N-replica duplicate replay (×10 → 1M messages 90% dup, ×100 → 10M
    messages 99% dup): fresh event_id (message identity), same content
    columns (payload digests collide)."""
    out = os.path.join(WORKDIR, name)
    if os.path.exists(os.path.join(out, "events.parquet")):
        print(f"reusing replay at {out}")
        return out
    os.makedirs(out, exist_ok=True)
    ev = spark.read.parquet(f"{SF01}/events.parquet")
    reps = None
    for r in range(replicas):
        rep = ev.withColumn(
            "event_id", F.col("event_id") + F.lit(r * _ID_STRIDE)
        )
        reps = rep if reps is None else reps.unionByName(rep)
    reps.write.mode("overwrite").parquet(f"{out}/events.parquet")
    return out


def main() -> None:
    global WORKDIR
    if "--workdir" in sys.argv:
        WORKDIR = sys.argv[sys.argv.index("--workdir") + 1]
    os.makedirs(WORKDIR, exist_ok=True)
    spark = get_spark("stream-throughput")
    spark.sparkContext.setLogLevel("ERROR")

    from pulsar_topic_deduplicator_spark.streaming.dedup import (
        run_ttl_dedup_bounded,
        run_ttl_dedup_watermark_bounded,
    )

    replay_dir = build_replay(spark)
    n_msgs = spark.read.parquet(f"{replay_dir}/events.parquet").count()

    # ── default JVM watermark kernel, 1M-message 90%-dup replay ────────
    # point the stream at the part-file directory itself: the replay is a
    # Spark-written events.parquet/ DIRECTORY, so a pathGlobFilter of
    # "events.parquet" (the single-file testdata shape) matches nothing
    t0 = time.perf_counter()
    out = run_ttl_dedup_watermark_bounded(
        spark, f"{replay_dir}/events.parquet"
    )
    forwarded = out.count()
    wall = time.perf_counter() - t0
    print(
        f"watermark kernel: {n_msgs:,} messages in {wall:.1f} s = "
        f"{n_msgs / wall / 1000:.0f}k msg/s ({forwarded:,} distinct "
        f"contents forwarded)"
    )

    # ── exact GroupState kernel, sf0.1 as-is (100k messages) ───────────
    n_small = spark.read.parquet(f"{SF01}/events.parquet").count()
    ckpt = tempfile.mkdtemp("tp_gs_ckpt")
    t0 = time.perf_counter()
    out = run_ttl_dedup_bounded(spark, SF01, ckpt, glob_filter="events.parquet")
    forwarded = out.count()
    wall = time.perf_counter() - t0
    print(
        f"GroupState kernel: {n_small:,} messages in {wall:.1f} s = "
        f"{n_small / wall / 1000:.1f}k msg/s ({forwarded:,} forwarded)"
    )
    shutil.rmtree(ckpt, ignore_errors=True)

    # ── 10× replay: ×100 replicas = 10M messages, 99% duplicate ────────
    # (VERDICT r10 item 8: show the watermark kernel's msg/s holds at the
    # next decade — state is digest-keyed, so it should scale linearly)
    if "--big" in sys.argv:
        big_dir = build_replay(spark, replicas=100, name="replay100")
        n_big = spark.read.parquet(f"{big_dir}/events.parquet").count()
        t0 = time.perf_counter()
        out = run_ttl_dedup_watermark_bounded(
            spark, f"{big_dir}/events.parquet"
        )
        forwarded = out.count()
        wall = time.perf_counter() - t0
        print(
            f"watermark kernel (10x): {n_big:,} messages in {wall:.1f} s = "
            f"{n_big / wall / 1000:.0f}k msg/s ({forwarded:,} distinct "
            f"contents forwarded)"
        )
    spark.stop()


if __name__ == "__main__":
    main()
