"""J3 — streaming twins must equal their batch counterparts."""

from __future__ import annotations

from pyspark.sql import functions as F

from australian_company_etl_spark.plans.streaming_batch import (
    events_sessionize,
    events_tumbling_agg,
)
from australian_company_etl_spark.sources.registry import load_tables
from australian_company_etl_spark.streaming.pipeline import (
    run_sessionize_to_memory,
    run_tumbling_to_memory,
    run_user_totals_to_memory,
)


def _rows(df):
    return sorted(tuple(str(c) for c in r) for r in df.collect())


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    stream_res = run_tumbling_to_memory(spark, sf_dir, name="t_tumbling")
    batch_res = events_tumbling_agg(spark, sf_dir)
    assert _rows(stream_res) == _rows(batch_res)


def test_stateful_sessionize_equals_batch(spark, sf_dir):
    stream_res = run_sessionize_to_memory(spark, sf_dir, name="t_sessions")
    batch_res = events_sessionize(spark, sf_dir)
    assert _rows(stream_res) == _rows(batch_res)


def test_stateful_user_totals_equals_batch(spark, sf_dir):
    stream_res = run_user_totals_to_memory(spark, sf_dir, name="t_totals")
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    batch_res = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    assert _rows(stream_res) == _rows(batch_res)


def test_state_survives_across_microbatches(spark, sf_dir, tmp_path):
    """Split events into 4 files, stream ONE file per trigger — per-user
    totals must accumulate across micro-batches (update mode: the LAST
    emitted row per user carries the running total)."""
    from australian_company_etl_spark.streaming.pipeline import user_totals_stream

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    src = str(tmp_path / "events_split")
    ev.select("event_id", F.unix_micros("ts").alias("ts_us"), "user_id", "event_type", "value").repartition(4).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts_us bigint, user_id bigint, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    )
    q = (
        user_totals_stream(stream)
        .writeStream.format("memory")
        .queryName("t_multi")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # more emitted rows than users proves multiple batches updated state
    emitted = spark.table("t_multi").collect()
    n_users = ev.select("user_id").distinct().count()
    assert len(emitted) > n_users
    # final state per user (largest n_events) equals the batch aggregate
    finals = {}
    for r in emitted:
        if r.user_id not in finals or r.n_events > finals[r.user_id].n_events:
            finals[r.user_id] = r
    batch = {
        r.user_id: r
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("tot"))
        .collect()
    }
    assert set(finals) == set(batch)
    for uid, r in finals.items():
        assert r.n_events == batch[uid].n
        assert abs(r.total_value - batch[uid].tot) < 0.02


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode watermark semantics: a row arriving in a later micro-batch
    whose event time is older than the watermark must be DROPPED; on-time
    rows still land in their (open) window; windows past the watermark never
    emit. This is the state-bound guarantee that makes 100 TB streaming
    aggregation feasible."""
    import os

    import pandas as pd

    from australian_company_etl_spark.streaming.pipeline import tumbling_agg_stream

    src = tmp_path / "late_src"
    src.mkdir()

    def write(name, times, mtime):
        pdf = pd.DataFrame(
            {
                "ts_us": [int(pd.Timestamp(t).value // 1000) for t in times],
                "event_type": "x",
                "value": 1.0,
            }
        )
        p = str(src / name)
        pdf.to_parquet(p)
        os.utime(p, (mtime, mtime))

    # batch 0: two rows in the 10:00 window + one at 14:00
    # → watermark advances to 14:00 - 1h = 13:00
    write("a.parquet", ["2024-01-01 10:00:05", "2024-01-01 10:00:10", "2024-01-01 14:00:00"], 1_000)
    # batch 1: on-time row; end of this batch evicts+emits the 10:00 window
    # (the late-record filter uses the PREVIOUS batch's watermark, so the
    # late row must arrive after this batch to hit a committed watermark)
    write("b.parquet", ["2024-01-01 14:30:00"], 2_000)
    # batch 2: LATE row at 10:30 — behind the committed watermark and its
    # window is already emitted → must be dropped, never double-emitted
    write("c.parquet", ["2024-01-01 10:30:00"], 3_000)
    # batch 3: advance watermark to 15:00 → closes the 14:00 window
    write("d.parquet", ["2024-01-01 16:00:00"], 4_000)

    stream = (
        spark.readStream.schema("ts_us bigint, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    )
    q = (
        tumbling_agg_stream(stream)
        .writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1, "the late 10:30 row must be dropped by the watermark"
    # Bounded state — the property the 100 TB/day claim rests on: after the
    # final batch the state store holds ONLY windows the watermark hasn't
    # closed (the open 16:00 window), not every window ever seen (3). If
    # eviction broke, numRowsTotal would grow with stream history.
    state_totals = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p["stateOperators"]
    ]
    assert state_totals[-1] == 1, f"state must hold only the open window: {state_totals}"
    assert max(state_totals) <= 2, f"state never exceeds open-window count: {state_totals}"
    rows = spark.table("t_late").collect()
    assert len(rows) == len({r.window_start for r in rows}), "window emitted twice"
    got = {r.window_start: r.n_events for r in rows}
    # 10:00 window closed with ONLY the 2 on-time rows (late 10:30 dropped);
    # 14:00 window closed with both its rows; 16:00 never closes (watermark
    # stops at 15:00) so it must not appear
    assert got == {"2024-01-01 10:00:00": 2, "2024-01-01 14:00:00": 2}


def test_streaming_dedup_across_microbatches(spark, sf_dir, tmp_path):
    """Documents split into 4 files streamed one per trigger: a duplicated
    file must not produce duplicate hashes at the sink — dedup state spans
    micro-batches (the streaming processed-ledger semantics)."""
    from australian_company_etl_spark.streaming.pipeline import run_dedup_stream_to_memory

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    src = str(tmp_path / "docs_split")
    docs.select("doc_id", "text").repartition(4).write.mode("overwrite").parquet(src)
    # re-deliver one shard under a new filename: every row in it is a dup
    import glob, shutil

    first = sorted(glob.glob(src + "/part-*.parquet"))[0]
    shutil.copy(first, src + "/redelivered.parquet")

    out = run_dedup_stream_to_memory(
        spark, src, "doc_id bigint, text string", name="t_dedup_stream"
    )
    hashes = [r.text_hash for r in out.collect()]
    assert len(hashes) == len(set(hashes)), "sink saw a duplicate content hash"
    n_distinct_batch = docs.select(F.md5("text")).distinct().count()
    assert len(hashes) == n_distinct_batch


def test_streaming_dedup_within_watermark_bounds_state(spark, tmp_path):
    """Watermark-bounded dedup: duplicates of a key arriving within the
    watermark delay are dropped across micro-batches, every distinct key
    appears exactly once, and the state store holds only keys the
    watermark hasn't passed (bounded state — the plain-dropDuplicates
    ledger would retain all of them forever)."""
    from australian_company_etl_spark.streaming.pipeline import (
        run_dedup_within_watermark_to_memory,
    )

    base = "2024-03-01 {}:00"
    f1 = [(1, base.format("10")), (2, base.format("10")), (3, base.format("11"))]
    # second delivery: key 1 re-arrives 10 min later (inside the 1h
    # watermark → must be dropped), key 4 is new
    f2 = [(1, "2024-03-01 10:10"), (4, base.format("12"))]
    src = str(tmp_path / "wm_src")
    for i, rows in enumerate([f1, f2]):
        spark.createDataFrame(rows, "k bigint, ts_s string").withColumn(
            "ts", F.to_timestamp("ts_s")
        ).select("k", "ts").coalesce(1).write.mode("append").parquet(src)

    progress: list = []
    out = run_dedup_within_watermark_to_memory(
        spark, src, "k bigint, ts timestamp", ["k"], name="t_wmdedup", progress_out=progress
    )
    ks = [r.k for r in out.collect()]
    assert sorted(ks) == [1, 2, 3, 4], f"each key exactly once, got {ks}"
    # Bounded state: once the watermark (max ts 12:00 − 1h = 11:00) passes a
    # key, its dedup state is evicted — the final batch must hold fewer
    # state rows than the 4 distinct keys ever seen. Plain dropDuplicates
    # would retain all 4 forever.
    state_totals = [
        p["stateOperators"][0]["numRowsTotal"] for p in progress if p["stateOperators"]
    ]
    assert state_totals, "no state-operator progress captured"
    assert state_totals[-1] < 4, f"watermark must evict passed keys: {state_totals}"


def test_streaming_upsert_foreachbatch_first_wins(spark, sf_dir, tmp_path):
    """Micro-batches merge into a keyed parquet target with one-row-per-key
    semantics across batches: a conflicting re-delivery of existing keys
    (same doc_id, mutated text) must never produce a second row, and keys
    delivered only once must keep their exact payload."""
    from australian_company_etl_spark.streaming.pipeline import run_upsert_stream_to_parquet

    docs = load_tables(spark, sf_dir, ["documents"])["documents"].select("doc_id", "text")
    src = str(tmp_path / "upsert_src")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    # conflicting re-delivery: half the keys arrive again with mutated text
    conflict = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
        "text", F.concat(F.lit("MUTATED:"), F.col("text"))
    )
    conflict.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "c"))
    import glob, shutil

    shutil.copy(
        sorted(glob.glob(str(tmp_path / "c") + "/part-*.parquet"))[0],
        src + "/zz-conflict.parquet",
    )

    target = str(tmp_path / "upsert_target")
    run_upsert_stream_to_parquet(spark, src, "doc_id bigint, text string", target)

    out = {r.doc_id: r.text for r in spark.read.parquet(target).collect()}
    orig = {r.doc_id: r.text for r in docs.collect()}
    assert len(out) == len(orig), "target must hold exactly one row per key"
    for k, v in out.items():
        # whichever delivery won, the payload is one of the delivered versions
        assert v == orig[k] or v == "MUTATED:" + orig[k]
    # keys never re-delivered must carry their exact original payload
    for k in (k for k in orig if k % 2 == 1):
        assert out[k] == orig[k]


def test_streaming_upsert_checkpoint_restart_skips_processed(spark, sf_dir, tmp_path):
    """A restarted stream with the same checkpoint must resume from the
    recorded offsets: run 1 processes the initial files, run 2 processes
    ONLY the file that arrived in between (the engine-level processed-file
    ledger), and the merged target stays exactly one row per key."""
    from australian_company_etl_spark.streaming.pipeline import run_upsert_stream_to_parquet

    docs = load_tables(spark, sf_dir, ["documents"])["documents"].select("doc_id", "text")
    early = docs.filter(F.col("doc_id") < 400)
    late = docs.filter(F.col("doc_id") >= 400)
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    early.repartition(3).write.mode("overwrite").parquet(src)

    n1 = run_upsert_stream_to_parquet(
        spark, src, "doc_id bigint, text string", target, checkpoint=ckpt
    )
    assert n1 >= 3
    assert spark.read.parquet(target).count() == early.count()

    # one new file lands; restart from the same checkpoint
    late.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "late"))
    import glob, shutil

    shutil.copy(
        sorted(glob.glob(str(tmp_path / "late") + "/part-*.parquet"))[0],
        src + "/zz-late.parquet",
    )
    n2 = run_upsert_stream_to_parquet(
        spark, src, "doc_id bigint, text string", target, checkpoint=ckpt
    )
    assert n2 == 1, f"restart reprocessed old files ({n2} batches)"
    out = spark.read.parquet(target)
    assert out.count() == docs.count()
    assert out.select("doc_id").distinct().count() == docs.count()


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """Watermarked click→purchase interval join must equal the plain batch
    join over the same source (availableNow drains everything, so no rows
    are watermark-dropped at this horizon)."""
    from australian_company_etl_spark.streaming.pipeline import (
        run_click_purchase_join_to_memory,
    )

    stream_res = run_click_purchase_join_to_memory(spark, sf_dir, name="t_cpjoin")
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    batch = (
        c.join(
            p,
            (c.user_id == p.p_user_id)
            & (p.purchase_ts >= c.click_ts)
            & (p.purchase_ts <= c.click_ts + F.expr("interval 1 hour")),
        )
        .select(
            "user_id",
            "click_id",
            "purchase_id",
            F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_at"),
            F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_at"),
            F.round("purchase_value", 2).alias("purchase_value"),
        )
    )
    assert len(_rows(stream_res)) > 0
    assert _rows(stream_res) == _rows(batch)


def test_stream_stream_join_state_bounded_by_watermark(spark, tmp_path):
    """The watermark + event-time-bound pair must EVICT join state: rows
    the watermark has passed (clicks older than watermark − 1h join
    window, purchases older than the watermark) can never match again and
    must leave the state store. This is the property that keeps a
    100 TB/day stream-stream join from buffering both streams forever —
    asserted on numRowsTotal, as test_watermark_drops_late_data does for
    the windowed agg and test_streaming_dedup_within_watermark... does
    for dedup."""
    import os

    import pandas as pd

    from australian_company_etl_spark.streaming.pipeline import click_purchase_join_stream

    src = tmp_path / "cp_src"
    src.mkdir()

    def write(name, rows, mtime):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts_s", "user_id", "event_type", "value"])
        pdf["ts_us"] = [int(pd.Timestamp(t).value // 1000) for t in pdf["ts_s"]]
        p = str(src / name)
        pdf[["event_id", "ts_us", "user_id", "event_type", "value"]].to_parquet(p)
        os.utime(p, (mtime, mtime))

    # 4 micro-batches, event time marching forward so the 2h watermark
    # (min over both sides) advances each batch and passes earlier rows
    write("a.parquet", [
        (1, "2024-05-01 10:00:00", 1, "click", 0.0),
        (2, "2024-05-01 10:30:00", 1, "purchase", 9.99),
        (3, "2024-05-01 10:15:00", 2, "click", 0.0),
    ], 1_000)
    write("b.parquet", [
        (4, "2024-05-01 16:00:00", 3, "click", 0.0),
        (5, "2024-05-01 16:05:00", 3, "purchase", 5.00),
    ], 2_000)
    write("c.parquet", [
        (6, "2024-05-01 22:00:00", 4, "click", 0.0),
        (7, "2024-05-01 22:05:00", 4, "purchase", 1.25),
    ], 3_000)
    write("d.parquet", [
        (8, "2024-05-02 12:00:00", 5, "click", 0.0),
    ], 4_000)

    ev = (
        spark.readStream.schema(
            "event_id bigint, ts_us bigint, user_id bigint, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    )
    q = (
        click_purchase_join_stream(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"),
        )
        .writeStream.format("memory")
        .queryName("t_cpjoin_bounded")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # correctness: the three same-user within-1h pairs matched
    got = {(r.user_id, r.click_id, r.purchase_id) for r in spark.table("t_cpjoin_bounded").collect()}
    assert got == {(1, 1, 2), (3, 4, 5), (4, 6, 7)}

    # bounded state: 8 rows entered the join across the run; the final
    # batch's state must hold only rows the (previous batch's) watermark
    # hasn't passed — eviction, not accumulation
    state_totals = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p["stateOperators"]
    ]
    assert state_totals, "no state-operator progress captured"
    assert state_totals[-1] < 8, f"join state accumulated the whole stream: {state_totals}"
    assert state_totals[-1] <= 4, f"watermark-passed rows must be evicted: {state_totals}"


def test_events_stream_reads_directory_layout(spark, sf_dir, tmp_path):
    """events.parquet as a DIRECTORY of part files (the layout the footer
    sniffer explicitly supports) must stream — the glob-filter-only reader
    matched no part-*.parquet leaf and returned a silently EMPTY stream
    (CONFIRMED review finding)."""
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    d = str(tmp_path / "corpus")
    ev.repartition(3).write.parquet(d + "/events.parquet")
    stream_res = run_tumbling_to_memory(spark, d, name="t_dir_tumbling")
    assert stream_res.count() > 0, "directory-layout stream was empty"
    assert _rows(stream_res) == _rows(events_tumbling_agg(spark, d))


def test_stateful_cents_round_half_up_like_batch(spark, tmp_path):
    """Exact-half money values must round like the batch twins (Spark
    F.round = HALF_UP): numpy/Python round are half-EVEN and computed
    0.125 as 12 cents where every batch plan computes 13 (review finding),
    diverging stream==batch parity on any corpus with non-2-dp values."""
    from australian_company_etl_spark.functions.exactmath import sum_cents
    from australian_company_etl_spark.streaming.pipeline import _cents

    assert _cents(0.125) == 13 and _cents(-0.125) == -13  # half away from zero

    rows = [(i, f"2025-01-01 0{i}:00:00", 1, "click", 0.125, "{}") for i in range(3)]
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    d = str(tmp_path / "halfup")
    ev.coalesce(1).write.parquet(d + "/events.parquet")
    stream_res = run_user_totals_to_memory(spark, d, name="t_halfup")
    got = {r.user_id: (r.n_events, r.total_value) for r in stream_res.collect()}
    batch = ev.groupBy("user_id").agg(
        F.count("*").alias("n"), sum_cents("value").alias("t")
    ).collect()
    assert got == {r.user_id: (r.n, r.t) for r in batch}
    assert got[1] == (3, 0.39)  # 3 × 13 HALF_UP cents, not 3 × 12


def test_upsert_heals_midswap_crash_and_keeps_merged_history(spark, sf_dir, tmp_path):
    """A merge that dies between the swap's two renames strands the target
    in .precompact; the checkpoint replays ONLY the crashed batch (earlier
    source files are never re-read), so without the heal every previously
    merged batch is silently lost (review finding). The next run must
    restore the stranded target and merge the new file onto it."""
    import glob
    import os
    import shutil

    from australian_company_etl_spark.streaming.pipeline import (
        run_upsert_stream_to_parquet,
    )

    docs = load_tables(spark, sf_dir, ["documents"])["documents"].select("doc_id", "text")
    early = docs.filter(F.col("doc_id") < 400)
    late = docs.filter(F.col("doc_id") >= 400)
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    early.repartition(2).write.mode("overwrite").parquet(src)
    run_upsert_stream_to_parquet(
        spark, src, "doc_id bigint, text string", target, checkpoint=ckpt
    )
    assert spark.read.parquet(target).count() == early.count()

    # the exact mid-swap crash state: first rename done, second never ran
    os.rename(target, target + ".precompact")
    late.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "late"))
    shutil.copy(
        sorted(glob.glob(str(tmp_path / "late") + "/part-*.parquet"))[0],
        src + "/zz-late.parquet",
    )
    n2 = run_upsert_stream_to_parquet(
        spark, src, "doc_id bigint, text string", target, checkpoint=ckpt
    )
    assert n2 == 1  # only the new file replayed — history came from the heal
    out = spark.read.parquet(target)
    assert out.count() == docs.count(), "previously merged batches were lost"
    assert not os.path.exists(target + ".precompact")
