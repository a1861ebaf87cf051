"""Streaming surface tests: drive each job through a real micro-batch
(file source → availableNow trigger → memory sink) and compare against the
batch-mode twin on the same data (the only streaming oracle available).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events rows re-written as a clean parquet dir (micros timestamps —
    the raw testdata file is TIMESTAMP(NANOS), unreadable by a stream
    source without the catalog shim)."""
    from wx20222_bigdata_spark.catalog import load_table

    d = tmp_path_factory.mktemp("stream") / "events"
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ev.coalesce(2).write.mode("overwrite").parquet(str(d))
    return str(d)


def _run(spark, stream_df, name, mode="update"):
    from wx20222_bigdata_spark.streaming.jobs import run_stream_to_memory

    run_stream_to_memory(stream_df, name, output_mode=mode)
    return spark.table(name)


def test_tumbling_counts_stream_matches_batch(spark, events_dir):
    from wx20222_bigdata_spark.streaming.jobs import read_events_stream, tumbling_counts

    stream = tumbling_counts(read_events_stream(spark, events_dir))
    got = _run(spark, stream, "t_tumbling", mode="append").toPandas()
    batch = (
        tumbling_counts(spark.read.parquet(events_dir))
        .toPandas()
    )
    g = got.sort_values(["window_start", "event_type"]).reset_index(drop=True)
    b = batch.sort_values(["window_start", "event_type"]).reset_index(drop=True)
    # append mode with watermark emits only finalized windows; every emitted
    # window must match the batch result exactly, and most windows finalize.
    merged = g.merge(b, on=["window_start", "event_type"], suffixes=("_s", "_b"))
    assert len(merged) == len(g) > 0
    assert (merged["n_s"] == merged["n_b"]).all()
    assert (abs(merged["value_sum_s"] - merged["value_sum_b"]) < 1e-9).all()


def test_session_windows_stream_runs(spark, events_dir):
    from wx20222_bigdata_spark.streaming.jobs import (
        read_events_stream,
        session_window_counts,
    )

    stream = session_window_counts(read_events_stream(spark, events_dir))
    got = _run(spark, stream, "t_sessions", mode="append").toPandas()
    assert len(got) > 0
    assert (got["n_events"] > 0).all()


def test_stateful_ema_matches_batch_fold(spark, events_dir):
    from wx20222_bigdata_spark.streaming.jobs import read_events_stream, stateful_ema

    stream = stateful_ema(read_events_stream(spark, events_dir))
    got = _run(spark, stream, "t_ema", mode="update").toPandas()
    # single availableNow pass -> one state update per user; compare to the
    # batch ordered fold (a9) on the same rows.
    ev = spark.read.parquet(events_dir)
    batch = (
        ev.groupBy("user_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))).alias("seq"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.expr(
                """aggregate(
                     slice(transform(seq, x -> x.value), 2, size(seq) - 1),
                     double(transform(seq, x -> x.value)[0]),
                     (a, x) -> 0.9 * a + 0.1 * x)"""
            ).alias("ema"),
            "n_events",
        )
        .toPandas()
    )
    g = got.groupby("user_id").last().reset_index()  # last update per user
    m = g.merge(batch, on="user_id", suffixes=("_s", "_b"))
    assert len(m) == len(batch) > 0
    assert (m["n_events_s"] == m["n_events_b"]).all()
    assert (abs(m["ema_s"] - m["ema_b"]) < 1e-9).all()


def test_streaming_dedup_with_watermark(spark, events_dir):
    """Streaming exact dedup (the E1 ladder's streaming form): duplicate
    event_ids across micro-batches are dropped with watermark-bounded
    state."""
    from wx20222_bigdata_spark.streaming.jobs import (
        read_events_stream,
        run_stream_to_memory,
    )

    stream = (
        read_events_stream(spark, events_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .groupBy()
        .count()
    )
    run_stream_to_memory(stream, "t_dedup", output_mode="complete")
    got = spark.table("t_dedup").collect()[0][0]
    expected = spark.read.parquet(events_dir).select("event_id").distinct().count()
    assert got == expected


def test_dedup_within_watermark(spark, events_dir):
    """dropDuplicatesWithinWatermark: dedup state is evicted after the
    watermark horizon — the bounded-state streaming dedup for keys that
    can only repeat within a time window."""
    from wx20222_bigdata_spark.streaming.jobs import (
        read_events_stream,
        run_stream_to_memory,
    )

    stream = (
        read_events_stream(spark, events_dir)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy()
        .count()
    )
    run_stream_to_memory(stream, "t_dedup_wm", output_mode="complete")
    got = spark.table("t_dedup_wm").collect()[0][0]
    # event_ids are globally unique here, so within-watermark dedup keeps all
    expected = spark.read.parquet(events_dir).count()
    assert got == expected


def test_foreach_batch_idempotent_sink(spark, events_dir, tmp_path):
    """foreachBatch exactly-once pattern: write each micro-batch to a
    batch-id-named path (idempotent on retry — a re-run of the same epoch
    overwrites the same directory instead of duplicating rows)."""
    import os

    from wx20222_bigdata_spark.streaming.jobs import read_events_stream

    out_root = str(tmp_path / "epochs")

    def write_epoch(batch_df, epoch_id):
        batch_df.write.mode("overwrite").parquet(f"{out_root}/epoch={epoch_id}")

    q = (
        read_events_stream(spark, events_dir)
        .writeStream.foreachBatch(write_epoch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    written = spark.read.parquet(f"{out_root}/epoch=*")
    assert written.count() == spark.read.parquet(events_dir).count()
    assert os.path.isdir(f"{out_root}/epoch=0")


def test_stateful_ema_multi_chunk_ordering(spark, events_dir, tmp_path):
    """Regression: a user whose micro-batch spans multiple Arrow chunks
    must fold in global (ts, event_id) order, not chunk-local order.
    Force tiny chunks via arrow.maxRecordsPerBatch."""
    from wx20222_bigdata_spark.streaming.jobs import read_events_stream, stateful_ema

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        stream = stateful_ema(read_events_stream(spark, events_dir))
        q = (
            stream.writeStream.format("memory")
            .queryName("t_ema_chunks")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = (
            spark.table("t_ema_chunks")
            .toPandas()
            .groupby("user_id")
            .last()
            .reset_index()
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    batch = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))).alias("seq")
        )
        .select(
            "user_id",
            F.expr(
                """aggregate(
                     slice(transform(seq, x -> x.value), 2, size(seq) - 1),
                     double(transform(seq, x -> x.value)[0]),
                     (a, x) -> 0.9 * a + 0.1 * x)"""
            ).alias("ema"),
        )
        .toPandas()
    )
    m = got.merge(batch, on="user_id", suffixes=("_s", "_b"))
    assert len(m) > 0
    assert (abs(m["ema_s"] - m["ema_b"]) < 1e-9).all()


def test_windowed_dedup_stream_matches_distinct(spark, events_dir):
    """dropDuplicatesWithinWatermark over one availableNow replay must emit
    exactly one row per distinct (user_id, event_type) — every duplicate
    arrival in the batch is absorbed by the in-horizon state."""
    from wx20222_bigdata_spark.streaming.jobs import read_events_stream, windowed_dedup

    stream = windowed_dedup(read_events_stream(spark, events_dir))
    got = _run(spark, stream, "t_windedup", mode="append").toPandas()
    ev = spark.read.parquet(events_dir)
    expected = ev.select("user_id", "event_type").distinct().count()
    assert len(got) == expected > 0
    assert not got.duplicated(["user_id", "event_type"]).any()


def test_interval_join_stream_matches_batch(spark, events_dir):
    from wx20222_bigdata_spark.streaming.jobs import interval_join, read_events_stream

    stream = interval_join(read_events_stream(spark, events_dir))
    got = _run(spark, stream, "t_interval", mode="append").toPandas()
    # the APIs are shared: the same function in batch mode IS the
    # micro-precision reference (the declared s9e twin is the
    # second-granularity oracle form)
    batch = interval_join(spark.read.parquet(events_dir)).toPandas()
    key = ["click_id", "purchase_id"]
    g = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(g) == len(b) > 0
    assert g[key].equals(b[key])
    assert (g["gap_s"].to_numpy() == b["gap_s"].to_numpy()).all()
    assert ((g["gap_s"] >= 0) & (g["gap_s"] <= 1801)).all()


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Checkpoint recovery: a restarted query with the same checkpoint
    resumes from the committed offset — already-processed files are NOT
    reprocessed, new files are, and the union is exactly-once (no lost or
    duplicated event_ids). This is the property that makes the streaming
    jobs safe to kill and restart in production."""
    from wx20222_bigdata_spark.catalog import load_table
    from wx20222_bigdata_spark.streaming.jobs import read_events_stream

    src = tmp_path / "src"
    out_root = str(tmp_path / "epochs")
    ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)
    half_a.coalesce(1).write.mode("overwrite").parquet(str(src))

    def write_epoch(batch_df, epoch_id):
        batch_df.write.mode("overwrite").parquet(f"{out_root}/epoch={epoch_id}")

    def run_pass():
        q = (
            read_events_stream(spark, str(src))
            .writeStream.foreachBatch(write_epoch)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    run_pass()
    n_a = spark.read.parquet(f"{out_root}/epoch=*").count()
    assert n_a == half_a.count()

    # new files arrive while the query is down; restart from checkpoint
    half_b.coalesce(1).write.mode("append").parquet(str(src))
    run_pass()
    got = spark.read.parquet(f"{out_root}/epoch=*")
    assert got.count() == ev.count()  # nothing lost, nothing reprocessed
    assert got.select("event_id").distinct().count() == ev.count()


def test_stateful_running_totals_matches_batch(spark, events_dir):
    """Per-user running (count, sum) carried in explicit streaming state
    must equal the batch aggregate after one availableNow pass.

    Runs the ``applyInPandasWithState`` twin where google.protobuf (the
    transformWithState state-server protocol dep) is unavailable —
    identical output contract — and the Spark 4
    ``transformWithStateInPandas`` variant where it is, so the test is
    never skipped and the declared API surface is exercised either way."""
    from wx20222_bigdata_spark.streaming.jobs import (
        read_events_stream,
        stateful_running_totals,
        stateful_running_totals_classic,
    )

    try:
        import google.protobuf  # noqa: F401

        have_protobuf = True
    except ImportError:
        have_protobuf = False

    if have_protobuf:
        old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        try:
            stream = stateful_running_totals(read_events_stream(spark, events_dir))
            got = _run(spark, stream, "t_tws", mode="update").toPandas()
        finally:
            if old:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", old
                )
            else:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    else:
        # the transformWithState variant must fail loud, not wrong
        with pytest.raises(ImportError, match="protobuf"):
            stateful_running_totals(read_events_stream(spark, events_dir))
        stream = stateful_running_totals_classic(
            read_events_stream(spark, events_dir)
        )
        got = _run(spark, stream, "t_totals_classic", mode="update").toPandas()
    ev = spark.read.parquet(events_dir)
    batch = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .toPandas()
    )
    g = got.groupby("user_id").last().reset_index()
    m = g.merge(batch, on="user_id", suffixes=("_s", "_b"))
    assert len(m) == len(batch) > 0
    assert (m["n_events_s"] == m["n_events_b"]).all()
    assert (abs(m["total_value_s"] - m["total_value_b"]) < 1e-6).all()


def test_stream_static_enrich_matches_batch(spark, events_dir):
    from wx20222_bigdata_spark.streaming.jobs import (
        read_events_stream,
        stream_static_enrich,
    )

    stream = stream_static_enrich(read_events_stream(spark, events_dir))
    got = _run(spark, stream, "t_enrich", mode="append").toPandas()
    batch = stream_static_enrich(spark.read.parquet(events_dir)).toPandas()
    g = got.sort_values(["window_start", "category"]).reset_index(drop=True)
    b = batch.sort_values(["window_start", "category"]).reset_index(drop=True)
    merged = g.merge(b, on=["window_start", "category"], suffixes=("_s", "_b"))
    assert len(merged) == len(g) > 0
    assert (merged["n_s"] == merged["n_b"]).all()
    assert (abs(merged["value_sum_s"] - merged["value_sum_b"]) < 1e-9).all()
    # every category seen in the stream output is a dim-table category
    from wx20222_bigdata_spark.streaming.jobs import EVENT_CATEGORY

    assert set(g["category"]) <= set(EVENT_CATEGORY.values())


def test_idempotent_sink_exactly_once(spark, events_dir, tmp_path):
    """Crash-replay simulation: run the sink once, DELETE the stream
    checkpoint (forcing a full replay of every micro-batch — the
    at-least-once worst case), run again, and assert the committed view
    still holds each input row exactly once."""
    import shutil

    from wx20222_bigdata_spark.streaming.jobs import (
        idempotent_parquet_sink,
        read_committed,
        read_events_stream,
    )

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src = read_events_stream(spark, events_dir).select(
        "event_id", "user_id", "event_type", "ts"
    )
    q = idempotent_parquet_sink(src, out, ckpt).start()
    q.awaitTermination(120)
    first = read_committed(spark, out).toPandas()

    # wipe the checkpoint: the restarted stream replays from scratch,
    # so every batch arrives a second time (at-least-once delivery)
    shutil.rmtree(ckpt)
    q2 = idempotent_parquet_sink(src, out, str(tmp_path / "ckpt2")).start()
    q2.awaitTermination(120)
    second = read_committed(spark, out).toPandas()

    expected = spark.read.parquet(events_dir).count()
    assert len(first) == expected
    assert len(second) == expected  # replay added nothing
    assert second["event_id"].is_unique


def test_streaming_agg_merge_equals_batch_recompute(spark, events_dir, tmp_path):
    from wx20222_bigdata_spark.streaming.jobs import (
        read_events_stream,
        streaming_agg_merge,
    )

    state = str(tmp_path / "state")
    src = read_events_stream(spark, events_dir)
    q = streaming_agg_merge(src, state, str(tmp_path / "ckpt")).start()
    q.awaitTermination(120)
    got = (
        spark.read.parquet(state + "/current")
        .select(
            "day",
            "event_type",
            "n_events",
            F.col("sum_v").cast("double").alias("sum_v"),
        )
        .toPandas()
        .sort_values(["day", "event_type"])
        .reset_index(drop=True)
    )
    ev = spark.read.parquet(events_dir)
    want = (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_v"),
        )
        .toPandas()
        .sort_values(["day", "event_type"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["n_events"].values == want["n_events"].values).all()
    assert (abs(got["sum_v"].values - want["sum_v"].values) < 1e-9).all()


def _last_batch_id(ckpt: str) -> int:
    """Highest committed micro-batch id in a streaming checkpoint."""
    import os

    commits = os.path.join(ckpt, "commits")
    return max(int(f) for f in os.listdir(commits) if not f.startswith("."))


def test_idempotent_sink_same_lineage_replay(spark, events_dir, tmp_path):
    """True at-least-once replay (same checkpoint lineage): re-deliver
    the last batch_id to the sink's batch writer — exactly what a
    restart inside the crash window does — and assert the on-disk marker
    swallows it, keeping each row exactly once even though the replayed
    'batch' carries extra rows (a marker-less sink would write them)."""
    from wx20222_bigdata_spark.streaming.jobs import (
        idempotent_parquet_sink,
        make_idempotent_batch_writer,
        read_committed,
        read_events_stream,
    )

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src = read_events_stream(spark, events_dir).select(
        "event_id", "user_id", "event_type", "ts"
    )
    q = idempotent_parquet_sink(src, out, ckpt).start()
    q.awaitTermination(120)
    expected = spark.read.parquet(events_dir).count()
    assert read_committed(spark, out).count() == expected

    replayed = spark.read.parquet(events_dir).select(
        "event_id", "user_id", "event_type", "ts"
    )
    make_idempotent_batch_writer(out, ckpt)(replayed, _last_batch_id(ckpt))
    got = read_committed(spark, out).toPandas()
    assert len(got) == expected
    assert got["event_id"].is_unique


def test_streaming_agg_merge_replay_does_not_double_count(
    spark, events_dir, tmp_path
):
    """streaming_agg_merge under the foreachBatch at-least-once contract:
    re-merging an already-applied batch_id must leave the state
    bit-identical — the _last_batch record committed atomically with the
    state swap is the replay guard (r2 ADVICE: marker-less merge
    double-counted n_events/sum_v)."""
    from wx20222_bigdata_spark.streaming.jobs import (
        make_agg_merge_batch,
        read_events_stream,
        streaming_agg_merge,
    )

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    src = read_events_stream(spark, events_dir)
    q = streaming_agg_merge(src, state, ckpt).start()
    q.awaitTermination(120)

    def snapshot():
        return (
            spark.read.parquet(state + "/current")
            .select(
                "day", "event_type", "n_events", F.col("sum_v").cast("double")
            )
            .toPandas()
            .sort_values(["day", "event_type"])
            .reset_index(drop=True)
        )

    before = snapshot()
    # replay the last applied batch (same id, full data) — must be a no-op
    make_agg_merge_batch(state)(
        spark.read.parquet(events_dir), _last_batch_id(ckpt)
    )
    assert before.equals(snapshot())  # no double count
    # a genuinely NEW batch id still merges (the guard is not a tombstone)
    make_agg_merge_batch(state)(
        spark.read.parquet(events_dir).limit(5), _last_batch_id(ckpt) + 1
    )
    after = snapshot()
    assert int(after["n_events"].sum()) == int(before["n_events"].sum()) + 5


def test_agg_merge_recovers_from_mid_swap_crash(spark, events_dir, tmp_path):
    """r5 ADVICE crash window: a crash BETWEEN rename(current→_old_{b})
    and rename(_staging_{b}→current) leaves no 'current' — the accumulated
    state lives only in the _old_ orphan. The next batch must restore it
    (not merge against empty state) and clean the orphan up afterwards."""
    import os
    import shutil

    from wx20222_bigdata_spark.streaming.jobs import (
        make_agg_merge_batch,
        read_events_stream,
        streaming_agg_merge,
    )

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    src = read_events_stream(spark, events_dir)
    q = streaming_agg_merge(src, state, ckpt).start()
    q.awaitTermination(120)

    cur = os.path.join(state, "current")
    before = (
        spark.read.parquet(cur)
        .select("day", "event_type", "n_events", F.col("sum_v").cast("double"))
        .toPandas()
        .sort_values(["day", "event_type"])
        .reset_index(drop=True)
    )
    next_id = _last_batch_id(ckpt) + 1
    # simulate the mid-swap crash of batch `next_id`: current renamed away,
    # staging written but never swapped in
    os.rename(cur, os.path.join(state, f"_old_{next_id}"))
    os.makedirs(os.path.join(state, f"_staging_{next_id}"))
    assert not os.path.exists(cur)

    # the replayed batch must merge against the RESTORED state
    make_agg_merge_batch(state)(
        spark.read.parquet(events_dir).limit(5), next_id
    )
    after = (
        spark.read.parquet(cur)
        .select("day", "event_type", "n_events", F.col("sum_v").cast("double"))
        .toPandas()
        .sort_values(["day", "event_type"])
        .reset_index(drop=True)
    )
    assert int(after["n_events"].sum()) == int(before["n_events"].sum()) + 5
    # orphans gone: the recovered _old_ was renamed back, staging rewritten
    leftovers = [d for d in os.listdir(state) if d.startswith("_old_")]
    assert leftovers == []

    # post-commit rmtree crash leftover (current EXISTS + stale _old_) is
    # swept on the next batch without touching the committed state
    shutil.copytree(cur, os.path.join(state, "_old_999"))
    make_agg_merge_batch(state)(
        spark.read.parquet(events_dir).limit(3), next_id + 1
    )
    assert not os.path.exists(os.path.join(state, "_old_999"))
    final = spark.read.parquet(cur).agg(F.sum("n_events")).collect()[0][0]
    assert int(final) == int(before["n_events"].sum()) + 8


def test_streaming_ingest_dedup_matches_batch_first_occurrence(
    spark, tmp_path
):
    """streaming_ingest_dedup law: after a full availableNow pass, the
    admitted set must equal the BATCH first-occurrence-per-content-key
    set (lowest doc_id wins), the key index must hold exactly the
    admitted keys, and replaying an applied batch_id must change
    nothing. A subsequent batch with one seen and one novel document
    admits only the novel one — the O(batch) growth shape of e25."""
    from wx20222_bigdata_spark.catalog import load_table
    from wx20222_bigdata_spark.streaming.jobs import (
        make_ingest_dedup_batch,
        streaming_ingest_dedup,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs")
    docs.coalesce(2).write.mode("overwrite").parquet(src)

    index_dir = str(tmp_path / "index")
    out = str(tmp_path / "admitted")
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    q = streaming_ingest_dedup(stream, index_dir, out, str(tmp_path / "ckpt"))
    q.start().awaitTermination(120)

    admitted = spark.read.parquet(f"{out}/batch_id=*")
    want = (
        docs.withColumn("k", F.md5("text"))
        .groupBy("k")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    got_ids = {r["doc_id"] for r in admitted.select("doc_id").collect()}
    want_ids = {r["doc_id"] for r in want.collect()}
    assert got_ids == want_ids and len(got_ids) > 0
    index = spark.read.parquet(f"{index_dir}/keys")
    assert index.distinct().count() == len(want_ids)

    # replay of an applied batch id: marker short-circuits, nothing changes
    make_ingest_dedup_batch(index_dir, out)(docs, 0)
    assert {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/batch_id=*").select("doc_id").collect()
    } == want_ids

    # next batch: one seen text + one novel text -> only the novel admits
    seen_text = docs.orderBy("doc_id").first()["text"]
    nxt = spark.createDataFrame(
        [(10_000_000, seen_text), (10_000_001, "genuinely novel text")],
        "doc_id bigint, text string",
    )
    make_ingest_dedup_batch(index_dir, out)(nxt, 99)
    after = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/batch_id=*").select("doc_id").collect()
    }
    assert after == want_ids | {10_000_001}


def test_ingest_dedup_markerless_replay_keeps_batch_rows(spark, tmp_path):
    """Crash-window replay (r3 ADVICE, high): a crash AFTER the admitted/
    index writes but BEFORE the _applied marker leaves the batch's own
    index partition on disk. The replay must NOT fold those keys into the
    seen set — doing so would anti-join the batch's rows away and the
    overwrite would permanently drop them."""
    import os

    from wx20222_bigdata_spark.streaming.jobs import make_ingest_dedup_batch

    index_dir = str(tmp_path / "index")
    out = str(tmp_path / "admitted")
    b0 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], "doc_id bigint, text string"
    )
    make_ingest_dedup_batch(index_dir, out)(b0, 0)
    # batch 1: one seen + one novel row; simulate the crash window by
    # running it, then deleting ONLY the marker (data + index remain)
    b1 = spark.createDataFrame(
        [(10, "alpha text"), (11, "novel gamma text")],
        "doc_id bigint, text string",
    )
    ingest = make_ingest_dedup_batch(index_dir, out)
    ingest(b1, 1)
    os.remove(os.path.join(out, "_applied_1"))
    ingest(b1, 1)  # marker-less replay — the crash-recovery path
    got = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/batch_id=*").select("doc_id").collect()
    }
    assert got == {1, 2, 11}  # 11 survived the replay; 10 is a dup of 1
    index = spark.read.parquet(f"{index_dir}/keys")
    assert index.select("content_key").distinct().count() == 3


def test_agg_merge_new_checkpoint_lineage_still_merges(spark, tmp_path):
    """Fresh-checkpoint restart (r3 ADVICE, medium): micro-batch ids
    restart at 0 under a new checkpoint lineage; the replay guard must
    not skip them (bare-id comparison did). Same-lineage replay must
    still be a no-op."""
    import json
    import os

    from wx20222_bigdata_spark.streaming.jobs import make_agg_merge_batch

    state = str(tmp_path / "state")

    def ckpt(lineage_id):
        d = tmp_path / f"ckpt_{lineage_id}"
        d.mkdir(exist_ok=True)
        with open(d / "metadata", "w") as f:
            json.dump({"id": lineage_id}, f)
        return str(d)

    rows = spark.createDataFrame(
        [(i, "2024-01-01 00:00:00", "click", 1.0) for i in range(10)],
        "event_id bigint, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))

    make_agg_merge_batch(state, ckpt("lin1"))(rows, 0)
    cur = os.path.join(state, "current")

    def total_events():
        return spark.read.parquet(cur).agg(F.sum("n_events")).collect()[0][0]

    assert total_events() == 10
    # same lineage, same batch id → replay guard skips
    make_agg_merge_batch(state, ckpt("lin1"))(rows, 0)
    assert total_events() == 10
    # NEW lineage, batch ids restart at 0 → must merge, not skip
    make_agg_merge_batch(state, ckpt("lin2"))(rows.limit(5), 0)
    assert total_events() == 15


def test_idempotent_writer_replay_repairs_stale_pointer(
    spark, events_dir, tmp_path
):
    """Pointer-update crash window (r3 ADVICE, medium): a crash after the
    marker write but before the _current_run pointer update leaves the
    pointer at the previous lineage. The restart's replayed batch hits
    the marker early-return — which must still advance the pointer so
    read_committed surfaces the committed data."""
    import os

    from wx20222_bigdata_spark.streaming.jobs import (
        idempotent_parquet_sink,
        make_idempotent_batch_writer,
        read_committed,
        read_events_stream,
    )

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src = read_events_stream(spark, events_dir).select(
        "event_id", "user_id", "event_type", "ts"
    )
    q = idempotent_parquet_sink(src, out, ckpt).start()
    q.awaitTermination(120)
    expected = spark.read.parquet(events_dir).count()

    # simulate the crash: pointer still aimed at a stale (pre-crash) lineage
    pointer = os.path.join(out, "_current_run")
    with open(pointer, "w") as f:
        f.write("stale-previous-lineage")
    assert read_committed(spark, out).count() == 0  # data hidden — the bug

    # restart replays the last batch; marker exists → early return, but
    # the pointer must be repaired on that path
    replayed = spark.read.parquet(events_dir).select(
        "event_id", "user_id", "event_type", "ts"
    )
    make_idempotent_batch_writer(out, ckpt)(replayed, _last_batch_id(ckpt))
    assert read_committed(spark, out).count() == expected


def test_streaming_curation_funnel_matches_batch_twin(spark, tmp_path):
    """streaming_curation_funnel law: after a multi-batch availableNow
    pass, the persistent accounting state equals the declarative batch
    twin (e7c_funnel_accounting) bit-for-bit. n_raw/n_quality and
    admitted_tokens are arrival-order-independent outright; per-source
    n_admitted is order-independent ONLY when no quality content_key
    spans two sources (first-arrival could then admit a different source
    than the twin's min-doc_id winner). That precondition is asserted on
    the fixture below — if testdata regeneration ever introduces a
    cross-source duplicate, the assertion (not a mystery diff) fails,
    and the stream must then be fed in doc_id order instead.
    maxFilesPerTrigger=1 forces a genuinely multi-batch run."""
    from wx20222_bigdata_spark.catalog import load_table
    from wx20222_bigdata_spark.operators.curation import (
        e7c_funnel_accounting,
        quality_features,
        quality_gate,
    )
    from wx20222_bigdata_spark.streaming.jobs import streaming_curation_funnel

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    # fixture precondition for exact per-source n_admitted equality
    cross_source = (
        quality_gate(quality_features(docs))
        .groupBy("content_key")
        .agg(F.countDistinct("source").alias("ns"))
        .filter(F.col("ns") > 1)
        .count()
    )
    assert cross_source == 0, (
        "fixture precondition violated: a quality content_key spans "
        "sources; stream in doc_id order or compare source-agnostic totals"
    )
    src = str(tmp_path / "docs")
    docs.repartition(3).write.mode("overwrite").parquet(src)

    index_dir = str(tmp_path / "index")
    out = str(tmp_path / "admitted")
    state = str(tmp_path / "state")
    stream = spark.readStream.schema(
        "doc_id bigint, source string, text string"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = streaming_curation_funnel(
        stream, index_dir, out, state, str(tmp_path / "ckpt")
    )
    q.start().awaitTermination(180)

    got = {
        r["source"]: (
            r["n_raw"], r["n_quality"], r["n_admitted"], r["admitted_tokens"]
        )
        for r in spark.read.parquet(f"{state}/current").collect()
    }
    want = {
        r["source"]: (
            r["n_raw"], r["n_quality"], r["n_admitted"], r["admitted_tokens"]
        )
        for r in e7c_funnel_accounting(spark, SF_SMOKE).collect()
    }
    assert got == want and len(got) > 0

    # admitted rows: one per distinct quality content key; index matches
    admitted = spark.read.parquet(f"{out}/batch_id=*")
    n_admitted_total = sum(v[2] for v in want.values())
    assert admitted.count() == n_admitted_total
    index = spark.read.parquet(f"{index_dir}/keys")
    assert index.select("content_key").distinct().count() == n_admitted_total


def test_curation_funnel_markerless_replay_is_idempotent(spark, tmp_path):
    """Crash-window law: a crash AFTER all three writes but BEFORE the
    _applied marker replays the batch with (a) its own index partition
    excluded from `seen` (admitted rows survive) and (b) the state-swap
    lineage guard refusing a second merge (no double count)."""
    from wx20222_bigdata_spark.catalog import load_table
    from wx20222_bigdata_spark.streaming.jobs import make_curation_funnel_batch

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    index_dir = str(tmp_path / "index")
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    funnel = make_curation_funnel_batch(index_dir, out, state)
    funnel(docs, 0)

    import os

    snap_admitted = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/batch_id=*").collect()
    )
    snap_state = sorted(
        tuple(r) for r in spark.read.parquet(f"{state}/current").collect()
    )
    assert len(snap_admitted) > 0

    # simulate the crash: marker never landed
    os.remove(os.path.join(out, "_applied_0"))
    funnel(docs, 0)

    assert sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/batch_id=*").collect()
    ) == snap_admitted
    assert sorted(
        tuple(r) for r in spark.read.parquet(f"{state}/current").collect()
    ) == snap_state

    # fully-committed replay (marker present) is a pure no-op too
    funnel(docs, 0)
    assert sorted(
        tuple(r) for r in spark.read.parquet(f"{state}/current").collect()
    ) == snap_state

    # a later batch with one seen + one novel doc admits only the novel
    # one and increments accounting by exactly that row
    seen_text = docs.orderBy("doc_id").first()["text"]
    novel_text = " ".join(f"word{i}" for i in range(30))  # passes the gate
    nxt = spark.createDataFrame(
        [(10_000_000, "webZ", seen_text), (10_000_001, "webZ", novel_text)],
        "doc_id bigint, source string, text string",
    )
    funnel(nxt, 1)
    state_rows = {
        r["source"]: (r["n_raw"], r["n_quality"], r["n_admitted"])
        for r in spark.read.parquet(f"{state}/current").collect()
    }
    assert state_rows["webZ"][0] == 2  # both raw rows counted
    assert state_rows["webZ"][2] == 1  # exactly the novel one admitted


#: a text that passes the quality gate (30 tokens, no punctuation)
_PASSING_TEXT = " ".join(f"word{i}" for i in range(30))


def test_curation_funnel_edge_rows_match_batch_twin(spark, tmp_path):
    """Edge rows through the funnel's projected quality flag: an empty
    text (0/0 punct ratio, which raises DIVIDE_BY_ZERO under ANSI unless
    the predicate avoids it), a NULL text, and two copies of one passing
    text. Both edge rows count in n_raw only, only the lowest-doc_id copy
    is admitted, and the state equals e7c_funnel_accounting over the same
    rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wx20222_bigdata_spark.operators.curation import e7c_funnel_accounting
    from wx20222_bigdata_spark.streaming.jobs import make_curation_funnel_batch

    rows = [(7, "webA", ""), (8, "webA", None), (9, "webB", _PASSING_TEXT),
            (4, "webB", _PASSING_TEXT)]
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[2] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array([r[1] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[2] or "") for r in rows], pa.int64()),
        }),
        sf_dir / "documents.parquet",
    )
    docs = spark.read.parquet(str(sf_dir / "documents.parquet")).select(
        "doc_id", "source", "text"
    )
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    make_curation_funnel_batch(str(tmp_path / "index"), out, state)(docs, 0)

    cols = ["n_raw", "n_quality", "n_admitted", "admitted_tokens"]
    got = {r["source"]: tuple(r[c] for c in cols)
           for r in spark.read.parquet(f"{state}/current").collect()}
    want = {r["source"]: tuple(r[c] for c in cols)
            for r in e7c_funnel_accounting(spark, str(sf_dir)).collect()}
    assert got == want == {"webA": (2, 0, 0, 0), "webB": (2, 2, 1, 30)}
    admitted = spark.read.parquet(f"{out}/batch_id=*").collect()
    assert [r["doc_id"] for r in admitted] == [4]


@pytest.mark.parametrize(
    "drifted, column", [("state", "n_quality"), ("index", "content_key")]
)
def test_curation_funnel_schema_drift_fails_loudly(spark, tmp_path, drifted, column):
    """The funnel reads state/current and index/keys with their declared
    schemas, and such a read fills a column the files lack with NULLs
    (silently lost counts, or re-admitted duplicates). A state that lacks
    n_quality, or an index partition that lacks content_key, must make
    the next batch raise before it writes anything: state/current and
    the admitted dir stay unchanged."""
    import os
    import shutil
    from pathlib import Path

    from wx20222_bigdata_spark.streaming.jobs import make_curation_funnel_batch

    index_dir = str(tmp_path / "index")
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    funnel = make_curation_funnel_batch(index_dir, out, state)
    schema = "doc_id bigint, source string, text string"
    funnel(spark.createDataFrame([(1, "webA", _PASSING_TEXT)], schema), 0)

    if drifted == "state":
        target = os.path.join(state, "current")
        bad = spark.read.parquet(target).drop(column)
    else:
        target = os.path.join(index_dir, "keys", "batch_id=0")
        bad = spark.createDataFrame([("stale",)], "other string")
    staged = str(tmp_path / "drifted")
    bad.write.parquet(staged)
    last_batch = os.path.join(target, "_last_batch")  # the state's replay guard
    if os.path.exists(last_batch):
        shutil.copy(last_batch, staged)
    shutil.rmtree(target)
    shutil.move(staged, target)

    def tree(d):
        return {p.relative_to(d): p.read_bytes() for p in Path(d).rglob("*") if p.is_file()}

    cur = os.path.join(state, "current")
    before_state, before_out = tree(cur), tree(out)
    nxt = spark.createDataFrame(
        [(2, "webA", _PASSING_TEXT), (3, "webA", _PASSING_TEXT + " more")], schema
    )
    with pytest.raises(Exception, match=f"NULL {column}:"):
        funnel(nxt, 1)
    assert tree(cur) == before_state
    assert tree(out) == before_out


#: Spark jobs one funnel micro-batch may run once the index and the state
#: exist (measured at local[8]: 8; 15 before the batch was rebuilt around
#: one flagged frame).
FUNNEL_BATCH_MAX_JOBS = 8


def test_curation_funnel_batch_job_count(spark, tmp_path):
    """Per-batch Spark job budget of the funnel at batch_id >= 1. A
    footer-inference read of the index or the state, or an accounting
    split back into several aggregates and joins, adds jobs and fails
    this."""
    from wx20222_bigdata_spark.catalog import load_table
    from wx20222_bigdata_spark.streaming.jobs import make_curation_funnel_batch

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    funnel = make_curation_funnel_batch(
        str(tmp_path / "index"), str(tmp_path / "out"), str(tmp_path / "state")
    )
    funnel(docs.filter(F.col("doc_id") % 2 == 0), 0)
    sc = spark.sparkContext
    group = "test-funnel-batch-job-count"
    sc.setJobGroup(group, "funnel batch 1")
    try:
        funnel(docs.filter(F.col("doc_id") % 2 == 1), 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= FUNNEL_BATCH_MAX_JOBS


def test_stateful_ema_exact_equality_with_a9_across_batches(spark, tmp_path):
    """Round-5 exactness upgrade (r4 verdict item 8): the streaming EMA's
    final state must equal the REGISTERED a9 batch fold EXACTLY (==, not
    tolerance) — both folds execute `0.9*a + 0.1*v` over the same
    (ts, event_id) order, so IEEE double results are bit-identical when
    arrival order respects event time. Three time-range files streamed
    one per micro-batch force the fold to cross batch boundaries through
    the state store (the single-batch case is trivially equal)."""
    import time as _time

    from wx20222_bigdata_spark.catalog import load_table
    from wx20222_bigdata_spark.registry import all_queries
    from wx20222_bigdata_spark.streaming.jobs import (
        EVENTS_STREAM_SCHEMA,
        stateful_ema,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    bounds = ev.selectExpr(
        "percentile(cast(ts as double), 1.0/3) AS t1",
        "percentile(cast(ts as double), 2.0/3) AS t2",
    ).first()
    src = str(tmp_path / "ordered_events")
    import os

    os.makedirs(src)
    # event-time-ordered arrival: file k holds the k-th time range and is
    # written after file k-1 (file source orders batches by mod time)
    parts = [
        ev.filter(F.col("ts").cast("double") <= bounds["t1"]),
        ev.filter(
            (F.col("ts").cast("double") > bounds["t1"])
            & (F.col("ts").cast("double") <= bounds["t2"])
        ),
        ev.filter(F.col("ts").cast("double") > bounds["t2"]),
    ]
    for k, part in enumerate(parts):
        part.coalesce(1).write.mode("overwrite").parquet(f"{src}/p{k}")
        pq_file = [f for f in os.listdir(f"{src}/p{k}") if f.endswith(".parquet")][0]
        os.rename(f"{src}/p{k}/{pq_file}", f"{src}/part_{k}.parquet")
        _time.sleep(1.1)  # distinct mtimes -> deterministic batch order
    import shutil

    for k in range(3):
        shutil.rmtree(f"{src}/p{k}")

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got_df = _run(spark, stateful_ema(stream), "t_ema_exact", mode="update")
    got = (
        got_df.toPandas()
        .groupby("user_id")
        .last()  # final state update per user
        .reset_index()
    )
    want = (
        all_queries()["a9_ema_ordered_fold"](spark, SF_SMOKE)
        .toPandas()
        .set_index("user_id")
    )
    assert len(got) == len(want) > 0
    n_batches_seen = got_df.select("user_id").count()
    assert n_batches_seen > len(want), "stream collapsed to a single batch"
    for _, r in got.iterrows():
        w = want.loc[r["user_id"]]
        assert int(r["n_events"]) == int(w["n_events"])
        assert round(float(r["ema"]), 6) == float(w["ema"]), r["user_id"]


def test_salted_sessions_stream_matches_batch_exact(spark, events_dir, tmp_path):
    """s9g stream==batch law (r8 verdict item 5): stage-1 sub-sessions
    computed by a REAL streaming run (file source, availableNow, append
    mode — only watermark-finalized sub-sessions emit) + the batch
    stage-2 merge must reproduce the direct batch s9c sessionization
    EXACTLY, with TOTAL coverage: a far-future sentinel event (dropped
    from the comparison) pushes the final watermark past every real
    session, so even the globally-last open session finalizes — append
    mode alone leaves it open (watermark stops AT max event time)."""
    import datetime as dt

    import pandas as pd

    from wx20222_bigdata_spark.streaming.jobs import (
        merge_sub_sessions,
        read_events_stream,
        salted_sub_sessions,
        session_window_counts,
    )

    flushed = str(tmp_path / "events_flushed")
    ev = spark.read.parquet(events_dir)
    sentinel_ts = ev.agg(F.max("ts")).first()[0] + dt.timedelta(days=10)
    sentinel = spark.createDataFrame(
        [(int(-1), sentinel_ts, int(-999), "flush", 0.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    ev.unionByName(sentinel).coalesce(2).write.parquet(flushed)

    sub_stream = salted_sub_sessions(
        read_events_stream(spark, flushed), watermark="0 seconds"
    )
    sub = _run(spark, sub_stream, "t_salted_subs", mode="append").filter(
        F.col("user_id") != -999
    )
    got = (
        merge_sub_sessions(sub)
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    batch = (
        session_window_counts(spark.read.parquet(events_dir))
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    batch["value_sum"] = batch["value_sum"].astype(float)
    assert len(got) == len(batch) > 0
    pd.testing.assert_frame_equal(
        got[["user_id", "session_start", "n_events"]],
        batch[["user_id", "session_start", "n_events"]],
    )
    assert (abs(got["value_sum"] - batch["value_sum"]) < 1e-9).all()


def test_salted_sessions_salt_boundary_split_rejoins(spark):
    """A session straddling a salt-bucket boundary is split in stage 1
    and MUST be stitched back in stage 2 — the hand-built corpus puts
    two events gap/2 apart on either side of a 6h boundary (one
    session), plus a pair >gap apart inside one bucket (two sessions)."""
    import datetime as dt

    from wx20222_bigdata_spark.streaming.jobs import (
        SALT_BUCKET_SECONDS,
        merge_sub_sessions,
        salted_sub_sessions,
    )

    b = dt.datetime(2024, 1, 1, 6, 0, 0)  # a 6h-bucket boundary
    rows = [
        # one session across the boundary (10 min apart)
        (1, b - dt.timedelta(minutes=5), 100, "c", 1.0),
        (2, b + dt.timedelta(minutes=5), 100, "c", 2.0),
        # two sessions inside one bucket (40 min > 30 min gap)
        (3, b + dt.timedelta(hours=1), 200, "c", 3.0),
        (4, b + dt.timedelta(hours=1, minutes=40), 200, "c", 4.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    sub = salted_sub_sessions(ev, watermark=None)
    # stage 1 really split the boundary session
    assert sub.filter(F.col("user_id") == 100).count() == 2
    got = {
        (r.user_id, r.n_events, r.value_sum)
        for r in merge_sub_sessions(sub).collect()
    }
    assert got == {(100, 2, 3.0), (200, 1, 3.0), (200, 1, 4.0)}
    assert SALT_BUCKET_SECONDS % 3600 == 0


def test_session_exact_gap_boundary_pinned(spark):
    """r9 ADVICE #2: two events EXACTLY gap apart must MERGE — in
    Spark's own session_window (s9c's form), in the salted two-level
    decomposition (s9g stage 1 + stage 2), and in the lag-cumsum oracle
    predicate (strict ``>`` break ≡ inclusive ``<=`` merge). Until now
    this inclusive-boundary agreement was only docstring-asserted; a
    hand-built exactly-30-min pair pins it, both inside one salt bucket
    and straddling a bucket boundary, with a gap+1s pair as the split
    control."""
    import datetime as dt

    from wx20222_bigdata_spark.streaming.jobs import (
        merge_sub_sessions,
        salted_sub_sessions,
    )

    b = dt.datetime(2024, 1, 1, 6, 0, 0)  # a 6h salt-bucket boundary
    rows = [
        # exactly 30 min apart, same salt bucket -> ONE session
        (1, b + dt.timedelta(hours=1), 100, "c", 1.0),
        (2, b + dt.timedelta(hours=1, minutes=30), 100, "c", 2.0),
        # exactly 30 min apart, straddling the bucket boundary -> ONE
        # session (stage 1 splits, stage 2's inclusive <= must stitch)
        (3, b - dt.timedelta(minutes=15), 200, "c", 3.0),
        (4, b + dt.timedelta(minutes=15), 200, "c", 4.0),
        # 30 min + 1 s apart -> TWO sessions (split control)
        (5, b + dt.timedelta(hours=3), 300, "c", 5.0),
        (6, b + dt.timedelta(hours=3, minutes=30, seconds=1), 300, "c", 6.0),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )

    # direct session_window (s9c's exact form, batch)
    direct = {
        (r.user_id, r.n_events, r.value_sum)
        for r in ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_sum"),
        )
        .collect()
    }
    expected = {(100, 2, 3.0), (200, 2, 7.0), (300, 1, 5.0), (300, 1, 6.0)}
    assert direct == expected  # Spark itself merges AT the boundary

    # salted two-level decomposition agrees bit-for-bit
    sub = salted_sub_sessions(ev, watermark=None)
    assert sub.filter(F.col("user_id") == 200).count() == 2  # stage 1 split
    salted = {
        (r.user_id, r.n_events, r.value_sum)
        for r in merge_sub_sessions(sub).collect()
    }
    assert salted == expected

    # the lag-cumsum oracle predicate (strict > break) in pure python
    def sessions(ts_list, gap=dt.timedelta(minutes=30)):
        out, cur = [], 1
        for prev, nxt in zip(ts_list, ts_list[1:]):
            if nxt - prev > gap:
                out.append(cur)
                cur = 1
            else:
                cur += 1
        out.append(cur)
        return out

    assert sessions([rows[0][1], rows[1][1]]) == [2]
    assert sessions([rows[2][1], rows[3][1]]) == [2]
    assert sessions([rows[4][1], rows[5][1]]) == [1, 1]
