#!/usr/bin/env python
"""Streaming state-store 10x probe (r7 verdict task 5): the graph and
gram families got disjoint-replica probes in round 7; this gives the
streaming family the same treatment.

Fixture shape (the honest one for state stores):
- events replicated 10x with DISJOINT user_id/event_id shifts and
  UNCHANGED timestamps — 10x concurrent users inside the same watermark
  horizon, which multiplies join-state KEYS (the axis that hurts a
  state store), not just volume.
- documents replicated 10x with shifted doc_id and UNCHANGED text —
  constant vocabulary, the shape under which the near-dup bucket state
  is CLAIMED to stay vocabulary-bounded (plans docstring); the probe
  verifies that claim with numbers instead of prose.

Measured per run: wall, micro-batches, and the state-store counters
Spark reports per stateful operator (numRowsTotal, memory bytes).

Run: python scripts/probe_stream_scale.py [join|neardup] [1|10]
(one entry+scale per JVM, same isolation discipline as the other
probes).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from usedcars_bigdata_spark.session import get_session
from usedcars_bigdata_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.1"
BASE = "/tmp/probe_stream_scale"


def _state_summary(progresses) -> dict:
    rows = 0
    mem = 0
    batches = 0
    for p in progresses:
        batches += 1
        for op in p.get("stateOperators", []):
            rows = max(rows, op.get("numRowsTotal", 0))
            mem = max(mem, op.get("memoryUsedBytes", 0))
    return {"batches": batches, "state_rows_max": rows, "state_mb_max": round(mem / 1e6, 1)}


def build_events(spark, copies: int) -> str:
    out = os.path.join(BASE, f"events_{copies}x")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        ev = load_table(spark, SF_DIR, "events")
        umax = ev.agg(F.max("user_id")).first()[0] + 1
        emax = ev.agg(F.max("event_id")).first()[0] + 1
        reps = spark.range(copies).select(F.col("id").alias("c"))
        (
            ev.crossJoin(reps)
            .select(
                (F.col("event_id") + F.col("c") * emax).alias("event_id"),
                "ts",
                (F.col("user_id") + F.col("c") * umax).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
            .write.mode("overwrite")
            .parquet(os.path.join(out, "events.parquet"))
        )
    return out


def probe_join(spark, copies: int) -> dict:
    from usedcars_bigdata_spark.streaming.events import (
        read_event_stream,
        run_stream,
    )
    from usedcars_bigdata_spark.streaming.joins import clicks_to_purchases

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.join(build_events(spark, copies), "events.parquet")
    stream = read_event_stream(spark, src, glob="*.parquet",
                               max_files_per_trigger=8)
    joined = clicks_to_purchases(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        max_gap="1 hour",
        watermark="2 hours",
    )
    sink = f"probe_join_{copies}x"
    t0 = time.time()
    q = run_stream(joined, sink)
    wall = time.time() - t0
    n = spark.table(sink).count()
    out = _state_summary([json.loads(p.json) for p in q.recentProgress])
    out.update({"wall_s": round(wall, 1), "rows_out": n})
    return out


def probe_neardup(spark, copies: int) -> dict:
    import shutil

    from usedcars_bigdata_spark.streaming.dedup import streaming_near_dup_flags

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    dmax = docs.agg(F.max("doc_id")).first()[0] + 1
    reps = spark.range(copies).select(F.col("id").alias("c"))
    big = docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("c") * dmax).alias("doc_id"), "text"
    )
    root = os.path.join(BASE, f"neardup_{copies}x")
    src = os.path.join(root, "src")
    if not os.path.exists(src):
        n_docs = copies * dmax
        cuts = [(0, n_docs // 3), (n_docs // 3, 2 * n_docs // 3),
                (2 * n_docs // 3, n_docs + 10**9)]
        for lo, hi in cuts:
            (big.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
                .coalesce(1).write.mode("append").parquet(src))
            time.sleep(1.1)
    for d in ("state", "flags", "ck"):
        p = os.path.join(root, d)
        if os.path.exists(p):
            shutil.rmtree(p)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    t0 = time.time()
    q = streaming_near_dup_flags(
        stream,
        state_dir=os.path.join(root, "state"),
        out_dir=os.path.join(root, "flags"),
        checkpoint=os.path.join(root, "ck"),
        query_name=f"probe_neardup_{copies}x",
    )
    q.processAllAvailable()
    wall = time.time() - t0
    batches = len(q.recentProgress)
    q.stop()
    state_rows = spark.read.parquet(os.path.join(root, "state")).count()
    flags = spark.read.parquet(os.path.join(root, "flags")).count()
    return {
        "wall_s": round(wall, 1),
        "batches": batches,
        "bucket_state_rows": state_rows,
        "rows_out": flags,
    }


def _event_stream(spark, copies: int, hot: bool, max_files: int = 8):
    """File stream over the replicated events, optionally with a PLANTED
    HOT KEY: every even event_id is remapped to user 0, so one key (and
    therefore one state-store partition's task) receives HALF the
    stream — the adversarial shape for per-key state ops. Deterministic
    (event_id parity, not rand), so runs are comparable."""
    from usedcars_bigdata_spark.streaming.events import read_event_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.join(build_events(spark, copies), "events.parquet")
    stream = read_event_stream(
        spark, src, glob="*.parquet", max_files_per_trigger=max_files
    )
    if hot:
        stream = stream.withColumn(
            "user_id",
            F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(
                F.col("user_id")
            ),
        )
    return stream


def probe_agg(spark, copies: int, hot: bool = False) -> dict:
    """Watermarked tumbling hourly count+sum PER USER — state rows =
    users × active hours, the axis that grows with the key-replica
    fixture (the per-event-type contract agg has a ~5-row state whatever
    the scale; this is the keyed form a real dashboard runs)."""
    stream = _event_stream(spark, copies, hot)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .select("w.start", "user_id", "n", "v")
    )
    # parquet sink, NOT memory: the memory sink collects every output row
    # to the driver, and the 100x run's ~9.5M rows blew
    # spark.driver.maxResultSize — a harness anti-pattern, not an
    # operator limit (found by this probe, r11)
    return _run_to_parquet(spark, agg, f"agg_{copies}x_{int(hot)}", hot)


def _run_to_parquet(spark, out_df, tag: str, hot: bool) -> dict:
    import shutil

    from usedcars_bigdata_spark.streaming.events import (
        query_shuffle_partitions,
    )

    # run_stream has no parquet sink, so size the query here by the same
    # rule (the source bytes in its plan).
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(query_shuffle_partitions(out_df))
    )
    root = os.path.join(BASE, f"sink_{tag}")
    if os.path.exists(root):
        shutil.rmtree(root)
    t0 = time.time()
    q = (
        out_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(root, "out"))
        .option("checkpointLocation", os.path.join(root, "ck"))
        .queryName(f"probe_{tag}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.time() - t0
    n = spark.read.parquet(os.path.join(root, "out")).count()
    out = _state_summary([json.loads(p.json) for p in q.recentProgress])
    out.update({"wall_s": round(wall, 1), "rows_out": n, "hot": hot})
    return out


def probe_anomaly(spark, copies: int, hot: bool = False) -> dict:
    """applyInPandasWithState running-mean anomaly tracker per user — the
    CUSTOM stateful operator (python worker + Arrow + GroupState). Under
    the planted hot key one group holds half the stream; the probe
    verifies the op completes and reports how the wall and state size
    respond (state is one (n, total) pair per user, so rows stay
    user-bounded even when the key is hot — the per-key fold is the
    pressure point, not the store)."""
    from usedcars_bigdata_spark.streaming.stateful import running_anomaly_flags

    stream = _event_stream(spark, copies, hot)
    flagged = running_anomaly_flags(stream)
    return _run_to_parquet(spark, flagged, f"anom_{copies}x_{int(hot)}", hot)


def probe_anomaly2(spark, copies: int, hot: bool = False) -> dict:
    """The HOT-KEY-NEUTRAL anomaly rewrite (r11 verdict item 3:
    grouped_running_sums + combinable state merge in foreachBatch) on the
    SAME fixture as probe_anomaly — the acceptance bar is the 100x-hot
    cell landing within ~1.5x of the unskewed 100x cell, where the
    per-key Python fold measured 4.8x."""
    import shutil

    from usedcars_bigdata_spark.streaming.stateful import (
        running_anomaly_flags_scalable,
    )

    stream = _event_stream(spark, copies, hot)
    root = os.path.join(BASE, f"anom2_{copies}x_{int(hot)}")
    if os.path.exists(root):
        shutil.rmtree(root)
    t0 = time.time()
    q = running_anomaly_flags_scalable(
        stream,
        state_dir=os.path.join(root, "state"),
        out_dir=os.path.join(root, "out"),
        checkpoint=os.path.join(root, "ck"),
        query_name=f"probe_anom2_{copies}x",
    )
    q.processAllAvailable()
    wall = time.time() - t0
    batches = len(q.recentProgress)
    q.stop()
    n = spark.read.parquet(os.path.join(root, "out")).count()
    state_rows = spark.read.parquet(os.path.join(root, "state")).count()
    return {
        "wall_s": round(wall, 1),
        "batches": batches,
        "state_rows": state_rows,
        "rows_out": n,
        "hot": hot,
    }


def main() -> None:
    which = sys.argv[1]
    copies = int(sys.argv[2])
    provider = sys.argv[3] if len(sys.argv) > 3 else "hdfs"
    hot = "hot" in sys.argv[4:]
    spark = get_session(app_name=f"probe-stream-{which}-{copies}x-{provider}")
    spark.sparkContext.setLogLevel("ERROR")
    if provider == "rocksdb":
        # r9: the off-heap state-store lever named by the r8 probe —
        # measure it instead of naming it
        from usedcars_bigdata_spark.streaming.statestore import ROCKSDB_PROVIDER

        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
    fn = {
        "join": probe_join,
        "neardup": probe_neardup,
        "agg": probe_agg,
        "anomaly": probe_anomaly,
        "anomaly2": probe_anomaly2,
    }[which]
    out = (
        fn(spark, copies, hot)
        if which in ("agg", "anomaly", "anomaly2")
        else fn(spark, copies)
    )
    tag = "hot" if hot else provider
    print(f"RESULT {which} {copies}x {tag} {json.dumps(out)}", flush=True)


if __name__ == "__main__":
    main()
