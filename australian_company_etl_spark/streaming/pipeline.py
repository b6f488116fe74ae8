"""J3 — Structured Streaming pipeline over the events log.

Streaming twin of `plans/streaming_batch.py`: file source → event-time
watermark → 1-hour tumbling window aggregation → sink. Plus a custom
stateful operator (`applyInPandasWithState`) maintaining per-user running
totals — the pattern for operators Spark's built-in stateful ops can't
express.

The reference's ingest loop (extract_commoncrawl.py: poll file list →
process new → record in ledger) is exactly a file-source stream with
exactly-once bookkeeping; Structured Streaming's checkpoint/ledger replaces
the hand-rolled `processed_files` table.

Scale: watermark bounds state (late events beyond 1h dropped from state);
window+event_type state keys shard across executors; file source at 100 TB
is `maxFilesPerTrigger`-throttled with checkpointed offsets.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from australian_company_etl_spark.functions.exactmath import sum_cents
from australian_company_etl_spark.sources.publish import heal_swap, swap_in
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_SCHEMA = (
    "event_id bigint, ts {ts_type}, user_id bigint, event_type string, value double, props string"
)


def _events_ts_is_nanos(sf_dir: str) -> bool:
    """The corpus has shipped events.ts as either TIMESTAMP(NANOS) (must be
    read as epoch-nanos long) or naive TIMESTAMP(MICROS) (reads directly
    into TimestampType as a UTC instant). File streams need an explicit
    schema, so sniff the footer of one file — a driver-side metadata read,
    same cost class as Spark's own schema inference."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        path = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
    pf = pq.ParquetFile(path)
    t = pf.schema_arrow.field("ts").type
    if getattr(t, "unit", None) != "ns":
        return False
    # INT96 (Spark's own default outputTimestampType) ALSO surfaces as
    # arrow ns — but Spark reads it natively as TimestampType; only the
    # INT64 TIMESTAMP(NANOS) logical type needs the epoch-nanos long path
    idx = next(i for i in range(len(pf.schema)) if pf.schema.column(i).name == "ts")
    return pf.schema.column(idx).physical_type != "INT96"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (ts → timestamp).

    Handles BOTH corpus layouts the footer sniffer supports: a single
    ``events.parquet`` file beside the other tables (glob-filtered out of
    the shared dir) and an ``events.parquet/`` DIRECTORY of part files —
    the glob filter alone matched no leaf file in the directory layout
    (parts are named part-*.parquet) and the stream was silently EMPTY."""
    import os

    nanos = _events_ts_is_nanos(sf_dir)
    schema = EVENTS_SCHEMA.format(ts_type="bigint" if nanos else "timestamp")
    path = os.path.join(sf_dir, "events.parquet")
    reader = spark.readStream.schema(schema)
    if os.path.isdir(path):
        raw = reader.parquet(path)
    else:
        raw = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    if nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def tumbling_agg_stream(events: DataFrame) -> DataFrame:
    """Watermarked 1h tumbling window x event_type — streaming J1."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), sum_cents("value").alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_tumbling_to_memory(spark: SparkSession, sf_dir: str, name: str = "tumbling") -> DataFrame:
    """Run the streaming agg to completion on the static dir (memory sink)."""
    q = (
        tumbling_agg_stream(read_events_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


USER_TOTALS_SCHEMA = "user_id bigint, n_events bigint, total_value double"
_STATE_SCHEMA = "n bigint, total_cents bigint"  # exact integer-cent state


def _cents(x: float) -> int:
    """Exact cent count of ONE money double, bit-matching the batch twin's
    `exactmath.cents` (Spark F.round(x*100)): Spark rounds a double via
    BigDecimal.valueOf — the SHORTEST decimal repr, which Python's repr()
    also produces — then setScale(0, HALF_UP), half away from zero.
    numpy .round() / Python round() are half-EVEN and diverge by one cent
    on exact-half inputs (0.125 → 12 where the batch plans compute 13),
    which would fail the stream==batch parity on any corpus whose values
    aren't strictly 2-dp."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(repr(x * 100)).quantize(Decimal("1"), rounding=ROUND_HALF_UP))


def _update_user_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # 2-dp values accumulate as exact integer cents: the running state
        # cannot drift however many micro-batches it survives (the batch
        # twins keep the same exactmath discipline, per-value HALF_UP)
        cents += sum(_cents(float(v)) for v in pdf["value"])
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [round(cents / 100, 2)]}
    )


def user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful op: per-user running (count, sum) via
    applyInPandasWithState — state survives across triggers."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=USER_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


SESSION_GAP_US = 30 * 60 * 1_000_000
SESSION_OUT_SCHEMA = (
    "user_id bigint, session_id bigint, session_start_us bigint, "
    "session_end_us bigint, n_events bigint, sum_value double"
)
_SESSION_STATE_SCHEMA = (
    "last_ts bigint, start bigint, n bigint, total_cents bigint, sid bigint"
)


def _sessionize_update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Gap-based sessionization with cross-batch state: closed sessions are
    final; the trailing open session is re-emitted each batch (update mode)
    so a static one-batch run equals the batch twin exactly."""
    (user_id,) = key
    last_ts, start, n, cents, sid = (
        state.get if state.exists else (None, None, 0, 0, 0)
    )
    batch = pd.concat(list(pdfs)).sort_values(["us", "event_id"])
    out = []
    for us, value in zip(batch["us"], batch["value"]):
        if last_ts is None or us - last_ts > SESSION_GAP_US:
            if n:
                out.append((user_id, sid, start, last_ts, n, round(cents / 100, 2)))
            sid += 1
            start, n, cents = us, 0, 0
        n += 1
        cents += _cents(float(value))  # HALF_UP, matching the batch twin
        last_ts = us
    if n:
        out.append((user_id, sid, start, last_ts, n, round(cents / 100, 2)))
    state.update((last_ts, start, n, cents, sid))
    yield pd.DataFrame(
        out,
        columns=[
            "user_id",
            "session_id",
            "session_start_us",
            "session_end_us",
            "n_events",
            "sum_value",
        ],
    )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Custom stateful sessionizer — the streaming twin of J2."""
    keyed = events.select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("us"), "value"
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _sessionize_update,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_sessionize_to_memory(
    spark: SparkSession, sf_dir: str, name: str = "sessions"
) -> DataFrame:
    q = (
        sessionize_stream(read_events_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def run_user_totals_to_memory(
    spark: SparkSession, sf_dir: str, name: str = "user_totals"
) -> DataFrame:
    q = (
        user_totals_stream(read_events_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# ── streaming exact dedup: first occurrence of each content hash wins ───────
# The streaming analog of the reference's processed-file ledger /
# `ON CONFLICT DO NOTHING` (extract_abr.py:57-66): dropDuplicates keeps one
# state row per distinct key across ALL micro-batches, so a re-delivered or
# duplicated document never reaches the sink twice. At 100 TB the state
# store shards by key across executors; with event-time bounds you'd use
# dropDuplicatesWithinWatermark to cap state instead of keeping it forever.


def dedup_stream(docs: DataFrame) -> DataFrame:
    return docs.withColumn("text_hash", F.md5("text")).dropDuplicates(["text_hash"])


def run_dedup_stream_to_memory(
    spark: SparkSession, src_dir: str, schema: str, name: str = "dedup", max_files: int = 1
) -> DataFrame:
    """Stream parquet files from src_dir (max_files per trigger) through the
    cross-batch dedup; returns the append-mode memory sink contents."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_dir)
    )
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def run_dedup_within_watermark_to_memory(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    keys: list[str],
    name: str = "wmdedup",
    delay: str = "1 hour",
    max_files: int = 1,
    progress_out: list | None = None,
) -> DataFrame:
    """Watermark-BOUNDED streaming dedup (`dropDuplicatesWithinWatermark`):
    unlike `dedup_stream`'s plain dropDuplicates — whose key state grows
    forever, the correct-but-unbounded ledger — this keeps a key's state
    only until the event-time watermark passes it. At 100 TB/day of events
    this is the only viable streaming dedup: state is proportional to the
    duplication WINDOW, not stream history, at the documented cost that a
    duplicate arriving later than the watermark delay is re-admitted."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_dir)
    )
    q = (
        stream.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(keys)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if progress_out is not None:
        # surface per-batch state-store metrics (numRowsTotal etc.) so tests
        # can assert the bounded-state property, not just output equality
        progress_out.extend(q.recentProgress)
    return spark.table(name)


# ── foreachBatch incremental upsert: continuous keyed merge into a target ───
# The streaming form of the reference's ON CONFLICT DO NOTHING ingest
# (extract_abr.py:57-66): each micro-batch merges into a keyed parquet
# target, first delivery of a key wins, later deliveries are dropped —
# including ACROSS batches, by anti-joining the batch against the current
# target before the union. foreachBatch is the portable micro-batch merge
# hook (on a lakehouse table format you'd issue MERGE INTO instead of the
# read-union-rewrite; the dataflow is identical).


def run_upsert_stream_to_parquet(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    target: str,
    key: str = "doc_id",
    max_files: int = 1,
    checkpoint: str | None = None,
) -> int:
    """Stream parquet files from src_dir, merging each micro-batch into the
    `target` parquet directory with first-wins semantics on `key`. With a
    `checkpoint` directory, a restarted run resumes from the recorded
    offsets and processes ONLY files that arrived since — the engine-level
    processed-file ledger (extract_commoncrawl.py:89-93) for free. Returns
    the number of micro-batches this run actually processed."""
    import os

    n_batches = 0

    def _merge(batch: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        sp = batch.sparkSession
        # heal a merge that died mid-swap, then let the replayed batch
        # re-merge onto the restored target — the anti-join makes the
        # replay idempotent. Without this, the checkpoint replays ONLY the
        # crashed batch (earlier source files are never re-read), so every
        # previously merged batch would be lost on exactly this crash.
        heal_swap(target)
        batch = batch.dropDuplicates([key])
        if os.path.isdir(target):
            cur = sp.read.parquet(target)
            fresh = batch.join(cur.select(key), key, "left_anti")
            merged = cur.unionByName(fresh)
        else:
            merged = batch
        # rewrite via a staging suffix (a plain overwrite would truncate the
        # directory being read within this same batch), then swap: a crash
        # before the swap leaves target intact (replay re-merges)
        staging = target + ".staging"
        merged.write.mode("overwrite").parquet(staging)
        swap_in(staging, target)

    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_dir)
        .writeStream.foreachBatch(_merge)
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return n_batches


# ── stream-stream interval join: click → purchase attribution ───────────────
# The last big Structured Streaming surface: joining two live streams.
# Semantics mirror the batch range join (plans/temporal.py L2) and funnel
# (J6): every purchase attributed to same-user clicks in the preceding
# hour. Both sides carry watermarks and the join predicate carries an
# event-time interval — that pair is what lets Spark EVICT join state
# (clicks older than watermark + 1h can never match again and are
# dropped). An unwatermarked stream-stream join buffers both streams
# forever, which is the classic 100 TB state blow-up.


def click_purchase_join_stream(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    c = clicks.select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    ).withWatermark("click_ts", "2 hours")
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", "2 hours")
    joined = c.join(
        p,
        (c.user_id == p.p_user_id)
        & (p.purchase_ts >= c.click_ts)
        & (p.purchase_ts <= c.click_ts + F.expr("interval 1 hour")),
    )
    return joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_at"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_at"),
        F.round("purchase_value", 2).alias("purchase_value"),
    )


def run_click_purchase_join_to_memory(
    spark: SparkSession, sf_dir: str, name: str = "cpjoin"
) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    out = click_purchase_join_stream(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)
