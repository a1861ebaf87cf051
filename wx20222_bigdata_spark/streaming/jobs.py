"""Streaming jobs over the events schema.

All transformations are source-agnostic: they accept any streaming (or
batch — the APIs are shared) DataFrame with the events schema, so the same
code runs against Kafka/files in production and the file-source tests here.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-based micro-batch source (parquet dir). In production this is
    a Kafka/queue source; file streams are the test/backfill path."""
    return spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(path)


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Tumbling 1-hour windows with a late-data watermark: per (window,
    event_type) counts + value sums. Watermark bounds state: windows older
    than max(ts) - watermark are finalized and evicted."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("value_sum"))
        .select(
            F.unix_timestamp("w.start").cast("bigint").alias("window_start"),
            "event_type",
            "n",
            "value_sum",
        )
    )


def sliding_avg(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Sliding 2h windows every 1h: each event contributes to 2 windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.avg("value").alias("value_avg"))
        .select(
            F.unix_timestamp("w.start").cast("bigint").alias("window_start"),
            "n",
            "value_avg",
        )
    )


def session_window_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows: events within ``gap`` of each other merge; state is
    per (user, open session) and closes via watermark."""
    return (
        events.withWatermark("ts", gap)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("value_sum"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").cast("bigint").alias("session_start"),
            "n_events",
            "value_sum",
        )
    )


#: Time-salt width for the two-level session pattern. Must be >> the
#: session gap so most sessions live inside one salt bucket and the merge
#: pass only stitches boundary chains.
SALT_BUCKET_SECONDS = 6 * 3600


def salted_sub_sessions(
    events: DataFrame,
    gap: str = "30 minutes",
    bucket_seconds: int = SALT_BUCKET_SECONDS,
    watermark: str | None = "30 minutes",
) -> DataFrame:
    """Stage 1 of the salted session pattern (r8 verdict item 5 — the
    hot-key mitigation STATE_STORE_AUDIT's ``_skew_note`` documents but
    r8 did not implement): sessionize per (user_id, time-salt) instead
    of per user_id, so a 50%-hot key's state updates spread over
    ``ceil(horizon / bucket_seconds)`` state partitions instead of
    serializing one task per micro-batch. The salt is the event's
    coarse TIME bucket — unlike a hash salt (skew_salted_agg), a time
    salt keeps each sub-session temporally contiguous, so stage 2 can
    reassemble exact sessions from sub-session summaries alone: only
    sessions straddling a bucket boundary are split, and a split is
    always "last event of bucket k, first event of bucket k+1 within
    gap" — exactly the adjacency the merge pass re-joins.

    Output per (user, salt, sub-session): ``start_ts`` (first event
    ts), ``last_ts`` (last event ts = window end − gap), ``n_events``,
    ``value_sum_dec`` (DECIMAL partial — decimal addition is
    associative, so regrouping in stage 2 is exact). Works on a
    streaming frame (state per open sub-session, closed by gap +
    watermark; pass ``watermark=None`` for batch twins)."""
    ev = events
    if watermark is not None and events.isStreaming:
        ev = events.withWatermark("ts", watermark)
    salt = F.floor(F.unix_timestamp("ts") / F.lit(bucket_seconds))
    return (
        ev.withColumn("salt", salt)
        .groupBy("user_id", "salt", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("value_sum_dec"),
        )
        .select(
            "user_id",
            "salt",
            F.col("w.start").alias("start_ts"),
            (F.col("w.end") - F.expr(f"INTERVAL {gap}")).alias("last_ts"),
            "n_events",
            "value_sum_dec",
        )
    )


def merge_sub_sessions(sub: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Stage 2: stitch sub-sessions into exact sessions per user. Input
    rows are sub-session SUMMARIES — O(sessions + users × buckets), a
    tiny fraction of the event volume — ordered by ``start_ts`` (starts
    are distinct per user: sub-windows within a salt are disjoint and
    different salts cover disjoint start ranges). Two sub-sessions merge
    iff ``start_ts − prev_last_ts ≤ gap`` — the same INCLUSIVE boundary
    as ``session_window`` (which merges events exactly gap apart; the
    s9c oracle's strict ``>`` break is the same predicate negated). The
    lag→flag→cumsum→aggregate chain is the classic sessionize idiom;
    output matches s9c's schema (user_id, session_start, n_events,
    value_sum) so the equality law is oracle-checkable."""
    w = Window.partitionBy("user_id").orderBy("start_ts")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = sub.withColumn(
        "new_s",
        F.when(
            F.lag("last_ts").over(w).isNull()
            | (
                F.col("start_ts")
                > F.lag("last_ts").over(w) + F.expr(f"INTERVAL {gap}")
            ),
            1,
        ).otherwise(0),
    ).withColumn("sid", F.sum("new_s").over(wrun))
    return (
        flagged.groupBy("user_id", "sid")
        .agg(
            F.unix_timestamp(F.min("start_ts"))
            .cast("bigint")
            .alias("session_start"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("value_sum_dec").cast("double").alias("value_sum"),
        )
        .drop("sid")
    )


_EMA_STATE_SCHEMA = "ema double, n bigint"
_EMA_OUT_SCHEMA = "user_id bigint, ema double, n_events bigint"


def stateful_ema(events: DataFrame) -> DataFrame:
    """``applyInPandasWithState`` EMA per user — the reference's EMA
    accumulator (``main.py:95-103``) as explicit streaming state: fold
    each micro-batch's (ts-ordered) values into the carried (ema, n)
    pair. State lives in the state store, sized O(users), checkpointed.

    The kernel is a nested closure (not a module-level function) so
    cloudpickle ships it by value — executors never need this package on
    their sys.path."""

    def ema_fn(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import pandas as pd

        if state.exists:
            ema, n = state.get
        else:
            ema, n = None, 0
        # a user's micro-batch may arrive as MULTIPLE Arrow chunks (rows >
        # arrow.maxRecordsPerBatch) in arbitrary order — concatenate and
        # sort ONCE so the fold follows global (ts, event_id) order, not
        # chunk-local order.
        chunks = list(batches)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            for v in pdf["value"]:
                ema = v if ema is None else 0.9 * ema + 0.1 * v
                n += 1
        state.update((ema, n))
        yield pd.DataFrame({"user_id": [key[0]], "ema": [ema], "n_events": [n]})

    return (
        events.withWatermark("ts", "1 minute")
        .groupBy("user_id")
        .applyInPandasWithState(
            ema_fn,
            outputStructType=_EMA_OUT_SCHEMA,
            stateStructType=_EMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def windowed_dedup(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming dedup within the watermark horizon
    (``dropDuplicatesWithinWatermark``): keeps the first arrival per
    (user_id, event_type) while the key is inside the watermark, then
    evicts the key's state — the streaming member of the E1 dedup family
    (bounded state O(live keys), vs unbounded for plain dropDuplicates).
    Batch twin: ``s9d_windowed_dedup`` (hour-bucketed first-per-key)."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("event_id", "user_id", "event_type", "ts")
    )


def interval_join(
    events: DataFrame,
    watermark: str = "10 minutes",
    max_gap_minutes: int = 30,
) -> DataFrame:
    """Stream-stream interval join: each 'click' joined to the same
    user's 'purchase' events within ``max_gap_minutes`` — the attribution
    join. Both sides carry watermarks and the join condition bounds
    event time in BOTH directions, so Spark can compute how long each
    side's state must be retained and evict it (unbounded state
    otherwise — a stream-stream join without a range condition never
    frees a row). Batch twin: ``s9e_interval_join`` (second-granularity
    gap, oracle-checked)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"c_user = p_user AND p_ts >= c_ts "
            f"AND p_ts <= c_ts + interval {max_gap_minutes} minutes"
        ),
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts"))
        .cast("bigint")
        .alias("gap_s"),
    )


def run_stream_to_memory(stream_df: DataFrame, name: str, output_mode: str = "update"):
    """Drive a streaming DataFrame through one full pass of available data
    into an in-memory table (test/debug harness)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


_TWS_OUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"


def stateful_running_totals_classic(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum) via ``applyInPandasWithState`` — the
    portable twin of :func:`stateful_running_totals`: identical output
    contract, no protobuf state-server dependency, runs on any Spark ≥3.4
    (the transformWithState variant below needs the RocksDB provider +
    google.protobuf and is the forward-looking path on clusters that ship
    them). State is one (n, total) pair per user — O(users)."""

    def totals_fn(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import pandas as pd

        if state.exists:
            n, total = state.get
        else:
            n, total = 0, 0.0
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.withWatermark("ts", "1 minute")
        .groupBy("user_id")
        .applyInPandasWithState(
            totals_fn,
            outputStructType=_TWS_OUT_SCHEMA,
            stateStructType="n bigint, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stateful_running_totals(events: DataFrame) -> DataFrame:
    """``transformWithStateInPandas`` running per-user totals — the
    Spark 4 arbitrary-state API (StatefulProcessor + typed state
    handles) beside the classic ``applyInPandasWithState`` EMA above:
    state is a named ValueState in the state store (O(users), RocksDB-
    backed on a real cluster, TTL-capable), and the processor is the
    extension point for custom stateful operators the SQL surface lacks.

    The processor class is defined INSIDE this function (pickle-by-value
    discipline): executors never need this repo on sys.path.

    Runtime requirements (import-gated, not assumed): the
    transformWithState protocol speaks protobuf between the JVM state
    server and the Python worker (``google.protobuf``), and the operator
    itself requires the RocksDB state store provider. The test skips
    when protobuf is absent; on a real cluster both ship with the
    distribution."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        raise ImportError(
            "transformWithStateInPandas requires google.protobuf "
            "(state-server protocol); not available in this environment"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            if self._totals.exists():
                n, total = self._totals.get()
            else:
                n, total = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", "1 minute")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType=_TWS_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


#: Static event-type dimension for the stream-static enrichment join.
EVENT_CATEGORY = {
    "click": "engagement",
    "view": "engagement",
    "signup": "growth",
    "purchase": "commerce",
    "error": "ops",
}


def stream_static_enrich(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Stream-static join: each streaming event is enriched with a
    static dimension (event_type → category) and aggregated per
    (hour window, category). The static side is broadcast once per
    micro-batch and holds NO streaming state — the canonical pattern
    for dimension enrichment at ingest (vs the stateful stream-stream
    interval_join). Batch twin: ``s9f_stream_static_enrich``
    (oracle-checked CASE mapping)."""
    spark = events.sparkSession
    dim = F.broadcast(
        spark.createDataFrame(
            list(EVENT_CATEGORY.items()), ["event_type", "category"]
        )
    )
    return (
        events.withWatermark("ts", watermark)
        .join(dim, "event_type")
        .groupBy(F.window("ts", "1 hour").alias("w"), "category")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_sum"),
        )
        .select(
            F.unix_timestamp("w.start").cast("bigint").alias("window_start"),
            "category",
            "n",
            "value_sum",
        )
    )


def idempotent_parquet_sink(stream_df: DataFrame, out_dir: str, checkpoint_dir: str):
    """Exactly-once file sink via ``foreachBatch`` + a batch-id commit
    protocol — the pattern behind every transactional lake sink (Delta/
    Iceberg commit logs, miniaturized): each micro-batch writes to
    ``out_dir/batch_id=N`` and ONLY then records N in a commit marker;
    readers take the committed partitions. Replayed batches (restart
    after a crash between write and checkpoint) are detected by the
    existing marker and skipped, so the sink is idempotent under
    Structured Streaming's at-least-once ``foreachBatch`` contract —
    at-least-once replay + idempotent writes = exactly-once output.

    The marker lives NEXT TO the data (``_committed_<run>_<batch>``), not
    in the stream checkpoint: recovery must survive the checkpoint and the
    data dir disagreeing, which is precisely the crash window. Markers —
    and the batch partitions themselves — are namespaced by the
    **checkpoint lineage id** (the streaming query id persisted in
    ``<checkpoint>/metadata``, stable across restarts from the same
    checkpoint, fresh for a new checkpoint): batch N of a NEW lineage is
    a different batch than batch N of the old one, so a marker from a
    previous lineage can never silently swallow new data (r2 ADVICE).
    ``read_committed`` reads the CURRENT lineage only — each lineage of
    an availableNow file-source query is a complete, self-contained view
    of the source, so "current lineage's committed set" is the
    exactly-once contract. At 100 TB the marker directory is a
    transaction log; compaction of committed partitions is a downstream
    maintenance job (S6's sharded writer). Test: tests/test_streaming.py
    replays a batch within one lineage (checkpoint commit record deleted)
    AND re-runs under a fresh checkpoint, asserting the committed view
    holds each input row exactly once both times."""
    write_batch = make_idempotent_batch_writer(out_dir, checkpoint_dir)
    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def make_idempotent_batch_writer(out_dir: str, checkpoint_dir: str):
    """The foreachBatch callable behind :func:`idempotent_parquet_sink`,
    exposed so the at-least-once replay path (same batch_id delivered
    twice) is directly testable."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        run = _lineage_id(checkpoint_dir)
        marker = os.path.join(out_dir, f"_committed_{run}_{batch_id}")
        pointer = os.path.join(out_dir, "_current_run")

        def _advance_pointer() -> None:
            # idempotent atomic replace: readers always see a lineage whose
            # markers are already on disk
            tmp = pointer + ".tmp"
            with open(tmp, "w") as f:
                f.write(run)
            os.replace(tmp, pointer)

        if os.path.exists(marker):
            # Replayed batch — already committed in THIS lineage. Still
            # advance the pointer (r3 ADVICE): a crash between the marker
            # write and the pointer update on the only batch of a new
            # lineage would otherwise leave _current_run aimed at the old
            # lineage forever, hiding the committed data from readers.
            _advance_pointer()
            return
        (
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"run={run}", f"batch_id={batch_id}")
            )
        )
        with open(marker, "w") as f:
            f.write("ok")
        _advance_pointer()

    return write_batch


def read_committed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read ONLY the current lineage's committed batch partitions of an
    idempotent_parquet_sink output dir (the reader half of the commit
    protocol — see the lineage-namespacing note there)."""
    pointer = os.path.join(out_dir, "_current_run")
    if not os.path.exists(pointer):
        return spark.createDataFrame([], "event_id bigint")
    with open(pointer) as f:
        run = f.read().strip()
    prefix = f"_committed_{run}_"
    committed = [
        p.removeprefix(prefix) for p in os.listdir(out_dir) if p.startswith(prefix)
    ]
    paths = [
        os.path.join(out_dir, f"run={run}", f"batch_id={b}") for b in committed
    ]
    if not paths:
        return spark.createDataFrame([], "event_id bigint")
    return spark.read.parquet(*paths)


def _recover_state_swap(state_dir: str) -> None:
    """Repair the state-swap crash window (r5 ADVICE item 1).

    The swap sequence in :func:`_swap_state` is: ``rename(current → _old_{b})``
    then ``rename(_staging_{b} → current)`` then ``rmtree(_old_{b})``.
    Each rename is atomic, but a crash BETWEEN the two renames leaves no
    ``current`` while the intact pre-batch state sits in ``_old_{b}`` —
    and a replay that treats missing state as empty would silently
    discard every previously accumulated row. On entry to every batch:

    - ``current`` missing + an ``_old_*`` orphan present → rename the
      newest orphan back to ``current`` (the replayed batch then merges
      against the restored state exactly as if the crash never happened);
    - ``current`` present → the swap committed, so any surviving
      ``_old_*`` is a post-commit ``rmtree`` crash leftover: remove it.
    - stale ``_staging_*`` dirs (crash before the first rename) are
      removed either way; the replay rewrites its own staging dir.
    """
    import glob
    import re

    cur = os.path.join(state_dir, "current")
    olds = glob.glob(os.path.join(state_dir, "_old_*"))

    def _bid(p: str) -> int:
        m = re.search(r"_old_(\d+)$", p)
        return int(m.group(1)) if m else -1

    if not os.path.exists(cur) and olds:
        newest = max(olds, key=_bid)
        os.rename(newest, cur)
        olds.remove(newest)
    if os.path.exists(cur):
        for o in olds:
            shutil.rmtree(o, ignore_errors=True)
    for stg in glob.glob(os.path.join(state_dir, "_staging_*")):
        shutil.rmtree(stg, ignore_errors=True)


#: Declared schemas of the files the exactly-once writers read back each
#: batch; reading with them skips Spark's footer-inference job. A NOT NULL
#: field is one its writer never leaves NULL (see _read_declared).
INDEX_KEYS_SCHEMA = T.StructType(
    [T.StructField("content_key", T.StringType(), False),
     T.StructField("batch_id", T.IntegerType())]
)
AGG_STATE_SCHEMA = T.StructType(
    [T.StructField("day", T.StringType()), T.StructField("event_type", T.StringType()),
     T.StructField("n_events", T.LongType(), False), T.StructField("sum_v", T.DecimalType(28, 2))]
)
FUNNEL_STATE_SCHEMA = T.StructType(
    [T.StructField("source", T.StringType())]
    + [T.StructField(c, T.LongType(), False)
       for c in ("n_raw", "n_quality", "n_admitted", "admitted_tokens")]
)


def _lineage_id(checkpoint_dir: str | None) -> str | None:
    """The checkpoint lineage id: the streaming query id Spark writes to
    ``<checkpoint>/metadata`` before the first batch runs, stable across
    restarts from the same checkpoint. ``None`` without a checkpoint
    (direct-call testing)."""
    if checkpoint_dir is None:
        return None
    with open(os.path.join(checkpoint_dir, "metadata")) as f:
        return json.load(f)["id"]


def _read_declared(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """``path`` read with its declared ``schema``, so no footer-inference
    job runs. Such a read fills a column the files lack with NULLs, which
    would lose counts silently; every NOT NULL field is therefore wrapped
    in ``raise_error``, and schema drift fails the job that scans the
    files (no extra Spark job)."""
    return spark.read.schema(schema).parquet(path).selectExpr(
        *[
            f.name
            if f.nullable
            else f"coalesce({f.name}, raise_error('NULL {f.name}: the files lack "
            f"this declared column')) AS {f.name}"
            for f in schema.fields
        ]
    )


def _seen_keys(spark: SparkSession, index_dir: str, batch_id: int) -> DataFrame | None:
    """Content keys of the key index written before ``batch_id``, or None
    before the first index write. Crash-window guard (r3 ADVICE): a failed
    attempt of THIS batch may already have written its own index partition
    (crash after the data/index writes but before the marker). Folding
    those keys into the seen set would drop the batch's rows from its own
    replay, and the mode-overwrite would then lose them for good.
    Micro-batch ids are monotone, so the prior corpus is exactly the
    partitions with batch_id < current."""
    index_path = os.path.join(index_dir, "keys")
    if not os.path.exists(index_path):
        return None
    return (
        _read_declared(spark, index_path, INDEX_KEYS_SCHEMA)
        .where(f"batch_id < {int(batch_id)}")
        .select("content_key")
    )


def _stage_state(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    lineage: str | None,
    schema: T.StructType,
    merge,
) -> str | None:
    """Write the state after this batch to ``state_dir/_staging_{batch_id}``
    and return that dir for :func:`_swap_state`, or None when the batch
    was already merged.

    ``merge(prev)`` builds the next state from the committed one (``None``
    before the first commit). The ``_last_batch`` record
    ``<lineage>:<batch_id>`` rides INSIDE the staged dir, so the swap
    commits data and replay guard in one atomic step. A batch whose id is
    ≤ the recorded one in the same lineage is a replay. A different
    recorded lineage is a fresh checkpoint whose batch ids restarted at 0,
    so it merges (r3 ADVICE); ``lineage=None`` (direct-call testing)
    matches any record. A stale staging dir left by a crash is swept by
    :func:`_recover_state_swap` on the next batch."""
    cur = os.path.join(state_dir, "current")
    applied = os.path.join(cur, "_last_batch")
    if os.path.exists(applied):
        with open(applied) as f:
            rec_lineage, _, rec_id = f.read().strip().rpartition(":")
        same_lineage = lineage is None or rec_lineage in ("", lineage)
        if same_lineage and batch_id <= int(rec_id):
            return None  # replayed batch in THIS lineage — already merged
    prev = _read_declared(spark, cur, schema) if os.path.exists(cur) else None
    staged = os.path.join(state_dir, f"_staging_{batch_id}")
    merge(prev).write.mode("overwrite").parquet(staged)
    with open(os.path.join(staged, "_last_batch"), "w") as f:
        f.write(f"{lineage or ''}:{batch_id}")
    return staged


def _swap_state(state_dir: str, batch_id: int, staged: str | None) -> None:
    """The state commit point: rename ``staged`` over ``current`` (no-op
    for None). Each rename is atomic; the crash window between the two is
    repaired by :func:`_recover_state_swap`."""
    if staged is None:
        return
    cur = os.path.join(state_dir, "current")
    old = os.path.join(state_dir, f"_old_{batch_id}")
    if os.path.exists(cur):
        os.rename(cur, old)
    os.rename(staged, cur)  # atomic swap = commit point (data + _last_batch)
    if os.path.exists(old):
        shutil.rmtree(old)


def streaming_agg_merge(stream_df: DataFrame, state_dir: str, checkpoint_dir: str):
    """Streaming materialized-view maintenance — m4's merge tree driven
    by a stream: each micro-batch is reduced to (day, event_type)
    partials, merged with the stored aggregate state (sum/count are
    algebraic, so merge == recompute — the law m4's oracle proves in
    batch), and the state table is atomically swapped. This is the
    foreachBatch form of a continuously-maintained rollup: state size
    is O(groups), independent of stream length, and a crash between
    write and swap leaves the previous state intact (the swap is the
    commit point; a transactional table format does the same with a
    log entry instead of a rename).

    Replay guard (r2 ADVICE): ``foreachBatch`` is at-least-once — a crash
    after the swap but before the streaming checkpoint records the batch
    replays the same batch_id, and merging it twice double-counts. Real
    transactional sinks record the applied txn id WITH the data; here the
    applied ``batch_id`` is written into the staging directory as
    ``_last_batch`` BEFORE the rename, so the swap atomically commits
    state + applied-id together (no marker-after-commit crash window).
    ``merge_batch`` returns early when the incoming batch_id is ≤ the
    recorded one (micro-batch ids are monotone; only the latest
    uncommitted batch can replay). Files starting with ``_`` are ignored
    by Spark's parquet reader, so the marker rides inside the state dir.

    Test (tests/test_streaming.py): final state == one-shot batch
    recompute over the same rows, exactly; a forced same-batch replay
    leaves the state unchanged; a NEW checkpoint lineage with restarted
    batch ids still merges (r3 ADVICE — bare batch-id comparison would
    silently skip every batch of a fresh lineage)."""
    merge_batch = make_agg_merge_batch(state_dir, checkpoint_dir)
    return (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def make_agg_merge_batch(state_dir: str, checkpoint_dir: str | None = None):
    """The foreachBatch callable behind :func:`streaming_agg_merge`,
    exposed so the replay guard (same batch_id merged twice) is directly
    testable. The replay guard and staging write are
    :func:`_stage_state`'s, the swap :func:`_swap_state`'s;
    ``checkpoint_dir=None`` (direct-call testing) matches any recorded
    lineage."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        _recover_state_swap(state_dir)
        partial = batch_df.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        ).agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("sum_v"),
        )

        def merge(prev: DataFrame | None) -> DataFrame:
            if prev is None:
                return partial
            return (
                prev.unionByName(partial)
                .groupBy("day", "event_type")
                .agg(
                    F.sum("n_events").cast("bigint").alias("n_events"),
                    F.sum("sum_v").cast("decimal(28,2)").alias("sum_v"),
                )
            )

        spark, lineage = batch_df.sparkSession, _lineage_id(checkpoint_dir)
        staged = _stage_state(spark, state_dir, batch_id, lineage, AGG_STATE_SCHEMA, merge)
        _swap_state(state_dir, batch_id, staged)

    return merge_batch


def streaming_ingest_dedup(
    stream_df: DataFrame, index_dir: str, out_dir: str, checkpoint_dir: str
):
    """Streaming twin of e25's incremental ingest dedup (dedup.py:513):
    each micro-batch of documents is admitted only if its content key is
    (a) not in the persistent corpus KEY INDEX and (b) the first
    occurrence within the batch; admitted keys are appended to the index
    so later batches — and later RESTARTS — see them. This is the
    streaming front door of a growing 100 TB corpus: per batch the work
    is O(batch) hashing + one semi-join against the key index (never a
    re-read of corpus text), and the index append is the only state
    growth.

    Exactly-once: admitted rows and index entries are both written
    batch-id-idempotently (the _applied_{batch} marker commits AFTER both
    writes; a replayed batch sees its marker and skips — same contract
    as make_agg_merge_batch). Within-batch dedup keeps the lowest doc_id
    per key (deterministic). Batch twin / oracle: e25 computes the same
    admission decision declaratively; the law 'stream-admitted set ==
    batch first-occurrence set' is pinned in tests/test_streaming.py."""
    merge = make_ingest_dedup_batch(index_dir, out_dir)
    return (
        stream_df.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def make_ingest_dedup_batch(index_dir: str, out_dir: str):
    """The foreachBatch callable behind :func:`streaming_ingest_dedup`
    (exposed for direct replay testing)."""

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(out_dir, f"_applied_{batch_id}")
        if os.path.exists(marker):
            return  # replayed batch — admitted rows + index already written
        keyed = batch_df.withColumn("content_key", F.md5("text"))
        # within-batch first occurrence (lowest doc_id per key)
        w = Window.partitionBy("content_key").orderBy("doc_id")
        firsts = (
            keyed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        seen = _seen_keys(batch_df.sparkSession, index_dir, batch_id)
        admitted = firsts if seen is None else firsts.join(seen, "content_key", "left_anti")
        # admitted rows land in a batch-id partition (idempotent overwrite),
        # index append is keyed by batch too so a replay overwrites itself
        admitted.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )
        # a NULL text's NULL key never matches the anti-join, so the index
        # (content_key NOT NULL) leaves it out
        admitted.select("content_key").filter(F.col("content_key").isNotNull()).write.mode(
            "overwrite"
        ).parquet(os.path.join(index_dir, "keys", f"batch_id={batch_id}"))
        with open(marker, "w") as f:
            f.write("ok")

    return ingest_batch


def streaming_curation_funnel(
    stream_df: DataFrame,
    index_dir: str,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
):
    """Incremental CURATION FUNNEL: the e7 pipeline run continuously over
    an arriving document stream — quality gate → first-occurrence
    admission against the persistent key index → per-source retention
    accounting folded into a running state table. This composes the two
    ingest subsystems (streaming_ingest_dedup's exactly-once admission,
    make_agg_merge_batch's atomic state merge) into the shape a real
    crawl-ingest pipeline runs: every micro-batch does O(batch) narrow
    feature work, one join against the key index, and one small
    accounting aggregate; corpus text is never re-read.

    Exactly-once, three commit points per batch, each replay-safe:
      1. admitted rows + index keys land in batch_id partitions
         (idempotent overwrite; a markerless replay recomputes the same
         admitted set because the index read is guarded to
         ``batch_id < current``),
      2. the accounting state swap carries ``<lineage>:<batch_id>`` in
         ``_last_batch`` INSIDE the staged directory (the rename commits
         data + applied-id atomically; a replay that finds its own id
         skips the merge — no double count),
      3. the ``_applied_{batch}`` marker is written LAST and
         short-circuits fully-committed replays.
    The next state is staged (written, not swapped) before point 1, so a
    drifted index or state schema fails the batch before any commit.

    Batch twin / oracle: ``e7c_funnel_accounting`` (operators/curation.py)
    computes the same accounting declaratively; with batches arriving in
    doc_id order, first-arrival admission == min-doc_id admission, so the
    final state equals the twin bit-for-bit (law-tested)."""
    funnel = make_curation_funnel_batch(
        index_dir, out_dir, state_dir, checkpoint_dir
    )
    return (
        stream_df.writeStream.foreachBatch(funnel)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def make_curation_funnel_batch(
    index_dir: str,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str | None = None,
):
    """The foreachBatch callable behind :func:`streaming_curation_funnel`
    (exposed for direct replay/crash-window testing).

    A batch is one persisted FLAGGED frame: every raw row once, as
    ``doc_id, source, content_key, n_tok`` plus two flags. ``q``: the row
    passes the shared ``QUALITY_PASS_SQL`` predicate (operators/curation.py;
    NULL counts as false). ``a``: admitted, i.e. ``q``, first quality row
    of its content key by doc_id, and absent from the index keys of
    earlier batches (a left join on the distinct keys). Admitted rows and
    index keys are ``filter(a)``; the accounting is one
    ``groupBy("source")`` over the prior state and the frame's per-row
    conditional counts. All sinks read the one frame, so the feature
    pass, the index join and the admission window run once per batch."""
    from wx20222_bigdata_spark.operators.curation import (
        QUALITY_PASS_SQL,
        quality_features,
    )

    def funnel_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _recover_state_swap(state_dir)
        marker = os.path.join(out_dir, f"_applied_{batch_id}")
        if os.path.exists(marker):
            return  # fully committed batch — replay is a no-op

        # Column expressions are SQL strings: one py4j call per selectExpr
        # instead of one per Column function, on a path built every batch
        flagged = quality_features(batch_df).selectExpr(
            "*", f"coalesce({QUALITY_PASS_SQL}, false) AS q"
        )
        unseen = "true"
        seen = _seen_keys(spark, index_dir, batch_id)
        if seen is not None:
            # distinct: a key indexed twice (a fresh checkpoint lineage
            # restarts batch ids) must not duplicate the left join's rows
            seen = seen.distinct().selectExpr("content_key", "true AS _seen")
            flagged = flagged.join(seen, "content_key", "left")
            unseen = "_seen IS NULL"
        # q leads the order: the first row is the key's lowest-doc_id
        # quality row even if an md5 collision mixes passing and failing texts
        flagged = flagged.selectExpr(
            "doc_id", "source", "content_key", "n_tok", "q",
            f"q AND {unseen} AND row_number() OVER "
            "(PARTITION BY content_key ORDER BY q DESC, doc_id) = 1 AS a",
        ).persist()
        try:
            # accounting: per-row conditional counts, summed per source
            # together with the prior state in ONE aggregate
            counts = flagged.selectExpr(
                "source",
                "1L AS n_raw",
                "CAST(q AS BIGINT) AS n_quality",
                "CAST(a AS BIGINT) AS n_admitted",
                "IF(a, n_tok, 0L) AS admitted_tokens",
            )

            def merge(prev: DataFrame | None) -> DataFrame:
                rows = counts if prev is None else prev.unionByName(counts)
                sums = [f"CAST(sum({c}) AS BIGINT) AS {c}" for c in FUNNEL_STATE_SCHEMA.names[1:]]
                return rows.groupBy("source").agg(*map(F.expr, sums))

            # Stage the accounting state first: its job is the first scan of
            # the index and the state, so a drifted schema fails the batch
            # before anything below is written.
            lineage = _lineage_id(checkpoint_dir)
            staged = _stage_state(spark, state_dir, batch_id, lineage, FUNNEL_STATE_SCHEMA, merge)
            # commit point 1: admitted docs + index keys, batch-partitioned
            admitted = flagged.filter("a")
            admitted.select("doc_id", "source", "content_key", "n_tok").write.mode(
                "overwrite"
            ).parquet(os.path.join(out_dir, f"batch_id={batch_id}"))
            admitted.select("content_key").write.mode("overwrite").parquet(
                os.path.join(index_dir, "keys", f"batch_id={batch_id}")
            )
            # commit point 2: the state swap (skipped for an already-merged replay)
            _swap_state(state_dir, batch_id, staged)
        finally:
            # Release the batch-scoped cache even when a write raises (r12
            # ADVICE): repeated failing batch retries in a long-lived stream
            # would otherwise accumulate cached blocks until executor
            # storage evicts them.
            flagged.unpersist()
        # commit point 3: full-batch marker
        with open(marker, "w") as f:
            f.write("ok")

    return funnel_batch
