"""Streaming == batch equivalence: the same window expressions must give
identical results when driven through readStream + availableNow."""

from __future__ import annotations

from pyspark.sql import functions as F

from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
    load_table,
)
from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.streaming.windows import (
    run_stream_to_memory,
    stream_events,
    tumbling_counts,
)


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    stream = stream_events(spark, sf_dir)
    assert stream.isStreaming
    run_stream_to_memory(tumbling_counts(stream), "t_tumbling", output_mode="complete")
    got = {
        (r.window_start_s, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("t_tumbling").collect()
    }
    batch = tumbling_counts(load_table(spark, sf_dir, "events"))
    want = {(r.window_start_s, r.event_type): (r.n_events, r.sum_value) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_streaming_sliding_equals_batch(spark, sf_dir):
    stream = stream_events(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("long").alias("ws"), "n")
    )
    run_stream_to_memory(agg, "t_sliding", output_mode="complete")
    got = {(r.ws): r.n for r in spark.table("t_sliding").collect()}
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("long").alias("ws"), "n")
    )
    want = {(r.ws): r.n for r in batch.collect()}
    assert got == want and len(got) > 0


def test_streaming_session_window_equals_batch(spark, sf_dir):
    stream = stream_events(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("sw.start").cast("long").alias("ss"), "n")
    )
    run_stream_to_memory(agg, "t_sessions", output_mode="complete")
    got = {(r.user_id, r.ss): r.n for r in spark.table("t_sessions").collect()}
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("sw.start").cast("long").alias("ss"), "n")
    )
    want = {(r.user_id, r.ss): r.n for r in batch.collect()}
    assert got == want and len(got) > 0


def test_streaming_dedup_equals_batch(spark, sf_dir):
    """Streaming exact-dedup: a duplicated stream through dropDuplicates
    yields the batch-distinct row set (stateful dedup operator)."""
    stream = stream_events(spark, sf_dir).select("event_id", "user_id")
    duplicated = stream.union(stream)
    deduped = duplicated.dropDuplicates(["event_id"])
    run_stream_to_memory(deduped, "t_dedup", output_mode="append")
    got = spark.table("t_dedup").count()
    want = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert got == want and got > 0


def test_stream_stream_attribution_join_equals_batch(spark, sf_dir):
    """Stream-stream interval join (click attribution) must produce the
    same pair set as the identical batch join."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.streaming.windows import (
        attribution_join,
    )

    events = stream_events(spark, sf_dir)
    assert events.isStreaming
    joined = attribution_join(
        events.filter(F.col("event_type") == "view"),
        events.filter(F.col("event_type") == "click"),
    )
    run_stream_to_memory(joined, "t_attrib", output_mode="append")
    got = {
        (r.view_id, r.click_id)
        for r in spark.table("t_attrib").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = attribution_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
    )
    want = {(r.view_id, r.click_id) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_streaming_dedup_within_watermark_equals_batch(spark, sf_dir):
    """dropDuplicatesWithinWatermark (bounded state) with a horizon
    covering the fixture's span must equal batch DISTINCT exactly — the
    q114 contract that lets a streaming query carry a full hash oracle."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.streaming.windows import (
        dedup_stream,
    )

    stream = dedup_stream(stream_events(spark, sf_dir), watermark="90 days")
    assert stream.isStreaming
    run_stream_to_memory(stream, "t_dedup_wm", output_mode="append")
    got = {(r.user_id, r.event_type) for r in spark.table("t_dedup_wm").collect()}
    want = {
        (r.user_id, r.event_type)
        for r in load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_static_join_equals_batch(spark, sf_dir):
    """Stream-static enrichment is stateless: the drained stream join
    must equal the batch join row-for-row (the q124 contract)."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.streaming.windows import (
        enrich_stream,
    )

    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = enrich_stream(
        stream_events(spark, sf_dir), dim, key="user_id", dim_key="c_custkey"
    ).select("event_id", "c_nationkey")
    assert joined.isStreaming
    run_stream_to_memory(joined, "t_enrich", output_mode="append")
    got = {(r.event_id, r.c_nationkey) for r in spark.table("t_enrich").collect()}
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    want = {
        (r.event_id, r.c_nationkey)
        for r in ev.join(dim, ev["user_id"] == dim["c_custkey"]).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_session_emission_boundary(spark, tmp_path):
    """Pins the q143 emission semantics the oracle encodes: the final
    watermark is (max event time truncated to MILLISECONDS) − delay, and a
    session is emitted iff session_end_us <= watermark_us (NON-strict).
    Constructed cases straddle the boundary at sub-millisecond offsets —
    this is the test that keeps the oracle honest by construction, not by
    fixture luck (round-3 ADVICE on q129)."""
    from pyspark.sql import functions as F

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.streaming.windows import (
        run_stream_to_memory,
        session_counts,
    )

    # gap 1800 s, delay 600 s. Max event 10000.000500 truncates to
    # 10000.000 ms => watermark 9400.000. Lone sessions ending at:
    #   user 3: 9400.000000 (== wm)  -> emitted (non-strict)
    #   user 4: 9400.000500 (> wm)   -> withheld
    #   user 5: 9399.999500 (< wm)   -> emitted
    # user 2 (the max event itself) ends at 11800.0005 -> withheld.
    rows = [(2, 10000.000500), (3, 7600.000000), (4, 7600.000500), (5, 7599.999500)]
    src = str(tmp_path / "events_src")
    df = spark.createDataFrame(rows, "user_id int, t double").select(
        "user_id", F.timestamp_seconds("t").alias("ts")
    )
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    agg = session_counts(stream, gap="1800 seconds", watermark="600 seconds")
    run_stream_to_memory(agg, "session_boundary_probe", output_mode="append")
    emitted = sorted(r.user_id for r in spark.table("session_boundary_probe").collect())
    assert emitted == [3, 5]


def test_left_outer_join_null_emission_boundary(spark, tmp_path):
    """Pins q154's null-emission rule: with the end-EXCLUSIVE match window
    [view_ts, view_ts+gap), an unmatched view emits its NULL row iff
    view_ts + gap <= watermark (non-strict), where watermark =
    min(ms-truncated max event time of both sides) − delay. Constructed
    sub-millisecond boundary cases; matched rows emit regardless."""
    from pyspark.sql import functions as F

    T = 100000.0
    views = [(1, 10, 97000.0), (1, 11, 97600.0), (1, 12, 97600.0005), (1, 13, 99000.0), (1, 20, 96000.0), (1, 99, T)]
    clicks = [(1, 500, 96600.0), (1, 501, T)]
    vsrc, csrc = str(tmp_path / "v"), str(tmp_path / "c")
    vdf = spark.createDataFrame(views, "user_id int, view_id int, t double").select(
        "user_id", "view_id", F.timestamp_seconds("t").alias("view_ts")
    )
    cdf = spark.createDataFrame(clicks, "user_id int, click_id int, t double").select(
        F.col("user_id").alias("click_user_id"), "click_id",
        F.timestamp_seconds("t").alias("click_ts"),
    )
    vdf.coalesce(1).write.mode("overwrite").parquet(vsrc)
    cdf.coalesce(1).write.mode("overwrite").parquet(csrc)
    # delay 600 s, gap 1800 s -> wm = 99400.000:
    #   v10 end 98800     < wm  -> NULL emitted
    #   v11 end 99400.000 == wm -> NULL emitted (non-strict)
    #   v12 end 99400.0005 > wm -> held in state
    #   v13/v99/v20 match clicks -> emitted as matches
    v = spark.readStream.schema(vdf.schema).parquet(vsrc).withWatermark("view_ts", "600 seconds")
    c = spark.readStream.schema(cdf.schema).parquet(csrc).withWatermark("click_ts", "600 seconds")
    j = v.join(
        c,
        [
            F.col("user_id") == F.col("click_user_id"),
            F.col("click_ts") >= F.col("view_ts"),
            F.col("click_ts") < F.col("view_ts") + F.expr("interval 1800 seconds"),
        ],
        "leftOuter",
    ).select("view_id", "click_id")
    q = (
        j.writeStream.format("memory").queryName("lo_boundary").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = {(r.view_id, r.click_id) for r in spark.table("lo_boundary").collect()}
    assert rows == {(10, None), (11, None), (13, 501), (20, 500), (99, 501)}


def test_foreachbatch_upsert_replay_is_idempotent(spark, sf_dir, tmp_path):
    """The upsert sink's merge must be replay-safe: re-applying the SAME
    micro-batch (foreachBatch's at-least-once failure mode) leaves the
    state bit-identical."""
    from pyspark.sql import functions as F

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
        load_table,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.streaming.windows import (
        apply_upsert_batch,
    )

    state = str(tmp_path / "state")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    apply_upsert_batch(b1, state)
    apply_upsert_batch(b2, state)

    def snap():
        return sorted(
            tuple(r) for r in spark.read.parquet(state).collect()
        )

    before = snap()
    apply_upsert_batch(b2, state)  # replay the last batch
    assert snap() == before
    # and the state equals the batch latest-per-key answer
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    want = sorted(
        tuple(r)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .collect()
    )
    assert before == want


def test_upsert_state_probe_accepts_file_uri(spark, sf_dir, tmp_path):
    """State detection goes through the Hadoop FS API: a file:// URI
    must behave exactly like the bare local path (the old os.path probe
    saw 'no state' for ANY URI — which would drop prior state), and the
    probe must see state written under either addressing."""
    from pyspark.sql import functions as F

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources.readers import (
        load_table,
    )
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.streaming.windows import (
        _state_has_parquet,
        apply_upsert_batch,
    )

    state = str(tmp_path / "state_uri")
    uri = f"file://{state}"
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    assert not _state_has_parquet(spark, uri)
    apply_upsert_batch(b1, uri)          # first merge via URI
    assert _state_has_parquet(spark, uri)
    assert _state_has_parquet(spark, state)  # same dir, bare path
    apply_upsert_batch(b2, state)        # second merge via bare path
    # merging through mixed addressing must still union prior state:
    # the final state is latest-per-key over BOTH batches
    got = sorted(tuple(r) for r in spark.read.parquet(state).collect())
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    want = sorted(
        tuple(r)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .collect()
    )
    assert got == want


def test_latest_per_key_multibatch_equals_batch(spark, sf_dir, tmp_path):
    """latest_per_key keeps one scalar state row per (user, type) key:
    a TWO-batch drain, read-side compacted by max-(ts_us, event_id) —
    the documented CDC-log read pattern — must equal the batch
    latest-per-(user, type) window. Exercises state carry across
    batches."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.streaming.stateful import (
        latest_per_key,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    src = str(tmp_path / "ev_two_batches")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        src + "/b0.parquet"
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        src + "/b1.parquet"
    )
    stream = (
        spark.readStream.schema(
            T.StructType()
            .add("user_id", "long")
            .add("event_type", "string")
            .add("event_id", "long")
            .add("ts", ev.schema["ts"].dataType)
            .add("value", "double")
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*.parquet")
    )
    run_stream_to_memory(
        latest_per_key(stream), "t_latest_mb", output_mode="update",
        shuffle_partitions=None,
    )
    log = spark.table("t_latest_mb")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts_us"), F.desc("last_event_id")
    )
    got = sorted(
        (r.user_id, r.event_type, r.last_event_id, r.ts_us, r.last_value)
        for r in log.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
        .collect()
    )
    wb = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    want = sorted(
        (r.user_id, r.event_type, r.event_id, r.ts_us, r.value)
        for r in ev.withColumn("ts_us", F.unix_micros("ts"))
        .withColumn("rn", F.row_number().over(wb))
        .filter("rn = 1")
        .drop("rn")
        .collect()
    )
    assert got == want
    spark.catalog.dropTempView("t_latest_mb")
