"""The reference's write path as Structured Streaming pipelines.

Reference behavior (SURVEY.md §2.7, §3.1): one RabbitMQ consumer
fans each JSON event out into five Cassandra tables — two entity
upserts, one global recent list, two counter families — with
event-time bucketing and at-least-once delivery (non-idempotent
counters can double count, cassandra_subscriber.py:229-231).

Spark-first restatement:
- counters    -> watermarked windowed groupBy counts (exactly-once
                 with checkpointing — strictly stronger than the
                 reference, SURVEY.md ST4);
- upsert view -> dropDuplicates within the watermark, or the batch
                 argmax view (operators/latest.py) for accept-late-
                 forever semantics (documented difference, ST3);
- fan-out     -> one foreachBatch appending each micro-batch to the
                 event log in one job (ST7); the five tables the
                 reference writes per event are answered at read
                 time by the registry queries behind ``AnalyticsApi``.

Every transformation here is also correct in batch mode — the same
DataFrame expressions run over a bounded source; tests assert
stream(availableNow) == batch (SURVEY.md §5.2 batch-equivalence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_data_analytics_cassandra_spark.session import conf_override

DEFAULT_WATERMARK = "1 hour"


def hourly_type_counts(events: DataFrame, watermark: str | None = DEFAULT_WATERMARK) -> DataFrame:
    """Tumbling 1-hour counts per event_type — the streaming form of
    the counter tables (cassandra_subscriber.py:166-180).  Works on
    both streaming and batch inputs; the watermark only applies to
    streams (state eviction — the documented deviation from the
    reference's accept-late-forever counters, SURVEY.md ST3)."""
    src = events.withWatermark("ts", watermark) if watermark and events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format(F.col("win.start"), "yyyyMMddHH").alias("hour_bucket"),
            "event_type",
            "cnt",
        )
    )


# Stateful-operator parallelism of a bounded replay (the shuffle-
# partition conf binds at query start).  State-store commit cost is per
# partition per micro-batch (~0.25 s each for HDFS-backed stores), so a
# bounded replay wants few, fat state partitions; a production stream
# sizes this to sustained throughput instead (it cannot be changed
# without a new checkpoint).
STATE_PARTITIONS = 8


def run_available_now(
    result: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a (bounded) streaming DataFrame to completion with the
    availableNow trigger into a memory sink; return the result table.

    Memory sink + complete mode is the test harness path for
    aggregations; row-emitting operators (dedup, stream-stream joins)
    use append mode.  Production uses update/append mode into a
    fault-tolerant sink (parquet/Kafka) with the same checkpoint
    mechanics.

    The query runs with :data:`STATE_PARTITIONS` shuffle partitions;
    the session conf is restored afterwards.
    """
    spark = result.sparkSession
    with conf_override(spark, "spark.sql.shuffle.partitions", str(STATE_PARTITIONS)):
        (
            result.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(query_name)


def start_available_now(stream: DataFrame, fold, checkpoint: str):
    """Start ``stream`` under the availableNow trigger with ``fold(batch,
    batch_id)`` as its foreachBatch sink; return the started
    StreamingQuery (the caller awaits termination)."""
    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def session_window_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """Gap-based sessions via the built-in session_window — the
    streaming form of operators/sessions.sessionize (identical
    boundary rule: a gap >= `gap` starts a new session).  Also valid
    in batch mode; tests cross-validate the two implementations."""
    src = events.withWatermark("ts", watermark) if watermark and events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_window_end"),
            "n_events",
        )
    )


def transition_log_stream(events: DataFrame) -> DataFrame:
    """Streaming event-type transition log: one output row per
    observed (prev_type -> next_type) step in each user's event
    sequence — the stateful-streaming form of
    queries.event_transition_matrix's lag window (a lag over an
    unbounded stream is inherently stateful: the state is each user's
    last-seen event).

    applyInPandasWithState keeps O(1) state per user (last event's
    ts/id/type, micros in state for Arrow stability); each micro-batch
    sorts its rows per user by (ts, event_id) — vectorized lexsort, no
    per-row Python — chains them after the remembered last event, and
    emits the transitions (append mode: every emitted row is final).
    Batch-equivalence holds when delivery is per-user in event-time
    order across micro-batches (in-batch disorder is repaired by the
    sort); the registry gate replays the whole table in one batch, the
    cross-batch test feeds ts-ordered files.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id bigint, prev_type string, next_type string, ts timestamp"
    )
    state_schema = "ts_us bigint, event_id bigint, event_type string"

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        frames = [p for p in pdfs if not p.empty]
        if not frames:
            return
        pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
        ts_us = pdf["ts"].to_numpy("datetime64[us]").astype("int64")
        order = np.lexsort((pdf["event_id"].to_numpy(), ts_us))
        types = pdf["event_type"].to_numpy()[order]
        ts_o = ts_us[order]
        ev_o = pdf["event_id"].to_numpy()[order]
        last = tuple(state.get) if state.exists else None
        # prev[i] = types[i-1], with the remembered last event (if
        # any) in front; the first row of a user's history has no
        # predecessor and emits nothing
        prevs = np.concatenate(([last[2] if last else None], types[:-1]))
        mask = prevs != None  # noqa: E711 - elementwise vs object array
        state.update((int(ts_o[-1]), int(ev_o[-1]), str(types[-1])))
        if mask.any():
            yield pd.DataFrame(
                {
                    "user_id": np.full(int(mask.sum()), key[0], dtype="int64"),
                    "prev_type": prevs[mask],
                    "next_type": types[mask],
                    "ts": pd.Series(ts_o[mask] * 1000).astype("datetime64[ns]"),
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def latest_upsert_stream_jvm(events: DataFrame) -> DataFrame:
    """True streaming upsert view of the latest event per user — the
    reference's ``customer_latest_info`` table semantics
    (cassandra_subscriber.py:124-144, SURVEY.md ST6).  The per-key
    reduction "keep the argmax row by (ts, event_id)" is exactly a
    max-like aggregate, so it runs as a plain streaming groupBy with
    ``max_by(payload, struct(ts, event_id))`` — whole-stage-codegen
    JVM execution, no Python workers, no Arrow transfer, and O(1)
    state per key via the built-in aggregation state store (the
    100 TB concern is key cardinality only, same as the reference's
    table).  Update mode emits the keys whose latest row changed.

    A per-key reduction that is NOT expressible as a max-like
    aggregate (e.g. conditional merge of partial columns) needs an
    arbitrary-state operator instead — see ``transition_log_stream``
    (applyInPandasWithState).  Tests assert the final state equals
    the batch argmax (operators/latest.py)."""
    best = F.max_by(
        F.struct("ts", "event_id", "event_type", "value", "props"),
        F.struct("ts", "event_id"),
    ).alias("r")
    return (
        events.groupBy("user_id")
        .agg(best)
        .select(
            "user_id", "r.ts", "r.event_id", "r.event_type", "r.value", "r.props"
        )
    )


def dedup_events(
    events: DataFrame, watermark: str | None = DEFAULT_WATERMARK
) -> DataFrame:
    """Exactly-once view of an at-least-once stream: drop redelivered
    events by event_id.  This is the fix for the reference's known
    double-count weakness (nack+requeue redelivery increments
    non-idempotent counters twice, cassandra_subscriber.py:229-231,
    SURVEY.md ST4) — dedup state keyed on the message id, bounded by
    the watermark (a redelivery later than the watermark is outside
    the delivery-retry horizon by construction).  Emits rows in
    append mode as they are first seen; works identically on batch
    inputs via dropDuplicates.

    State eviction: plain dropDuplicates only evicts when the
    event-time column is part of the dedup key subset, which
    event_id-only dedup can't satisfy — its state would grow
    unboundedly on a real stream.  The watermarked path therefore
    uses dropDuplicatesWithinWatermark (keyed on event_id alone,
    state evicted once an id ages past the watermark), which is
    exactly the redelivery-horizon semantics.  The unwatermarked
    path keeps plain dropDuplicates = accept-late-forever (ST3)."""
    if watermark and events.isStreaming:
        return (
            events.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "ts", "user_id", "event_type", "value")
        )
    return events.dropDuplicates(["event_id"]).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def sliding_type_counts(
    events: DataFrame,
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """Hopping-window counts: 1-hour windows every 15 minutes — the
    generalization of the reference's tumbling counter buckets
    (cassandra_subscriber.py:86-99) to overlapping windows (each
    event lands in 4 windows; Spark's window() generates them
    without row explosion in the plan).  Window starts align to the
    epoch, so the bucket labels are engine-portable."""
    src = (
        events.withWatermark("ts", watermark)
        if watermark and events.isStreaming
        else events
    )
    return (
        src.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format(F.col("win.start"), "yyyyMMddHHmm").alias("window_start"),
            "event_type",
            "cnt",
        )
    )


def signup_purchase_interval_join(
    events: DataFrame, horizon: str = "6 hours", watermark: str = "1 day"
) -> DataFrame:
    """Stream-stream interval join: each signup matched to the same
    user's purchases within ``horizon`` after it — real-time purchase
    attribution (the streaming twin of operators/asof.py).  Both
    sides carry watermarks and the join condition bounds event-time
    distance, so the join state is evictable (size O(events within
    watermark), not O(stream)) — the property that keeps this viable
    on an unbounded 100 TB/day bus."""
    signups = (
        events.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id"),
            F.col("ts").alias("signup_ts"),
            F.col("event_id").alias("signup_event_id"),
        )
        .withWatermark("signup_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return signups.join(
        purchases,
        F.expr(
            f"""user_id = p_user_id
            AND purchase_ts >= signup_ts
            AND purchase_ts < signup_ts + INTERVAL {horizon}"""
        ),
        "inner",
    ).select(
        "user_id",
        "signup_event_id",
        "purchase_event_id",
        "signup_ts",
        "purchase_ts",
        "purchase_value",
    )


def _one_file_if_small(batch: DataFrame) -> DataFrame:
    """``batch`` as ONE partition when its estimated size (the optimized
    plan's ``sizeInBytes``) fits in one
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, so a small
    micro-batch appends one file rather than one per scan split and
    the event log every read lists stays small.  A bigger batch (a
    backlog drained after downtime) keeps its partitioning."""
    spark = batch.sparkSession
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    if batch._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() <= advisory:
        return batch.coalesce(1)
    return batch


def multicast_foreach_batch(events: DataFrame, out_dir: str, checkpoint_dir: str):
    """The write path (SURVEY.md ST7): each micro-batch is appended to
    ``{out_dir}/event_log``, the system of record, as one Spark job.
    The reference's five tables (cassandra_subscriber.py:121-180) are
    not written here: they are answered at read time by the registry
    queries behind ``AnalyticsApi`` over the event log.

    The checkpoint commits a batch only after its append succeeds, so
    a batch that fails after appending is re-run and appends again
    (at-least-once into the log; a clean restart is exactly-once).  The
    source is scanned once per batch, so ``numInputRows`` counts each
    row once.

    Returns the started StreamingQuery (caller awaits termination).
    """

    def append(batch: DataFrame, batch_id: int) -> None:
        _one_file_if_small(batch).write.mode("append").parquet(f"{out_dir}/event_log")

    return start_available_now(events, append, checkpoint_dir)


def user_stats_stream_tws(events: DataFrame) -> DataFrame:
    """Per-user running stats on the transformWithState API (Spark 4
    state v2: typed state variables on the RocksDB store) — the
    modern custom-stateful-operator surface, complementing
    ``applyInPandasWithState`` (state v1, transition_log_stream).

    State per key is one typed value-state record (n, cents, last_us)
    — O(1) per key like the v1 path, but declared through the handle
    so the engine owns layout/TTL/timers.  The value total
    accumulates in integer CENTS (the data is 2-decimal), so the
    result is order-independent and matches the batch decimal-sum
    oracle EXACTLY despite double inputs.  Each micro-batch emits the
    keys it touched (update semantics); n_events grows monotonically
    per key, so re-emits collapse with max_by(..., n_events).

    ENV-GATED (same pattern as sources/cassandra.py): requires
    spark.sql.streaming.stateStore.providerClass =
    RocksDBStateStoreProvider (bundled with Spark) AND the
    ``protobuf`` Python package — transformWithState's Python workers
    speak a protobuf state-server protocol, so in environments
    without it the query crashes at initialization
    (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE).  The test
    skips only when no protobuf can be found at all —
    tests/conftest.py::_ensure_protobuf also discovers pure-python
    copies bundled inside other locally-installed tooling and shims
    them onto PYTHONPATH before the JVM starts, so the path runs
    wherever such a copy exists; ``transition_log_stream`` (state v1,
    applyInPandasWithState) is the dependency-free custom-stateful
    path and stays the gated one.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "stats", "n bigint, cents bigint, last_us bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            prev = self._st.get()
            n, cents, last_us = prev if prev is not None else (0, 0, -(2**62))
            for pdf in rows:
                if pdf.empty:
                    continue
                n += len(pdf)
                vals = pdf["value"].dropna().to_numpy(dtype="float64")
                if len(vals):
                    cents += int(np.round(vals * 100).astype("int64").sum())
                ts_us = pdf["ts"].to_numpy("datetime64[us]").astype("int64")
                last_us = max(last_us, int(ts_us.max()))
            self._st.update((n, cents, last_us))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [cents / 100.0],
                    "last_ts": [pd.Timestamp(last_us * 1000)],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStats(),
        outputStructType=(
            "user_id bigint, n_events bigint, "
            "total_value double, last_ts timestamp"
        ),
        outputMode="Update",
        timeMode="None",
    )


def span_dedup_foreach_batch(
    docs: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_len: int = 8,
):
    """Continuously-ingesting span dedup: every micro-batch of
    documents is scrubbed against the persisted first-occurrence
    segment index (operators/dedup.py::span_index_dedup_batch) and
    appended to ``out_path``; the index extends with the segments the
    batch saw first.  foreachBatch's batch_id feeds the index's
    replay stamp, so at-least-once redelivery rewrites identical
    verdicts and identical index rows (tested).

    This is the streaming form of keep_first_segment_dedup: when the
    stream delivers documents in id order the accumulated output
    equals the one-shot batch operator bit-for-bit; under arbitrary
    arrival it is first-arrival-wins — the only rule an append-only
    emitter can honor.
    """
    from real_time_data_analytics_cassandra_spark.operators.dedup import (
        span_index_dedup_batch,
    )

    def step(batch: DataFrame, batch_id: int) -> None:
        out = span_index_dedup_batch(
            batch.sparkSession,
            batch,
            index_path,
            id_col,
            text_col,
            seg_len,
            batch_id=batch_id,
        )
        out.write.mode("append").parquet(out_path)

    return start_available_now(docs, step, checkpoint)


def index_append_foreach_batch(
    docs: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Continuously-ingesting inverted index: every micro-batch of
    documents APPENDS into the persisted BM25 index (operators/
    index.py::append_text_index — the first batch bootstraps the
    build).  Exactly-once composes from two independent layers:
    foreachBatch's at-least-once redelivery meets the append's own
    anti-join idempotency (a replayed batch is a no-op) and its
    pending-marker crash repair (a batch that died mid-append rolls
    back before the retry applies) — so the finished index equals a
    one-shot build over the whole corpus row-for-row NO MATTER how
    the stream chopped or replayed it, and a search over it shares
    the batch bm25_search oracle bit-for-bit."""
    from real_time_data_analytics_cassandra_spark.operators.index import (
        append_text_index,
    )

    def step(batch: DataFrame, batch_id: int) -> None:
        append_text_index(batch, index_path, id_col, text_col)

    return start_available_now(docs, step, checkpoint)
