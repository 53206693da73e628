"""Streaming semantics: batch-equivalence (SURVEY.md §5.2) — the
streaming pipelines over a bounded replay with availableNow must
produce exactly the batch result — plus the foreachBatch multicast
fan-out (ST7).
"""

from __future__ import annotations

import tempfile

import pytest

from real_time_data_analytics_cassandra_spark.catalog import table
from real_time_data_analytics_cassandra_spark.operators.latest import latest_per_key
from real_time_data_analytics_cassandra_spark.operators.sessions import sessionize
from real_time_data_analytics_cassandra_spark.sources.streams import (
    bounded_event_stream,
    sharded_table_stream,
)
from real_time_data_analytics_cassandra_spark.streaming.pipelines import (
    hourly_type_counts,
    latest_upsert_stream_jvm,
    multicast_foreach_batch,
    run_available_now,
    session_window_counts,
)
from tests.conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_batch_equivalence_hourly_counts(spark):
    stream = bounded_event_stream(spark, SF_SMOKE)
    with tempfile.TemporaryDirectory() as ckpt:
        streamed = run_available_now(
            hourly_type_counts(stream), "hourly_counts_stream_test", ckpt
        )
        batch = hourly_type_counts(table(spark, SF_SMOKE, "events"))
        assert _rows(streamed) == _rows(batch)


def test_session_window_matches_manual_sessionize(spark):
    """Batch session_window and the manual lag/cumsum sessionize must
    produce the same sessions (same boundary rule)."""
    from pyspark.sql import functions as F

    events = table(spark, SF_SMOKE, "events")
    manual = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sessionize(events, "user_id", "ts", 30).collect()
    }
    sw = events.groupBy(
        F.session_window("ts", "30 minutes").alias("win"), "user_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )
    builtin = {(r.user_id, r.min_ts, r.max_ts, r.n_events) for r in sw.collect()}
    assert manual == builtin


def test_latest_upsert_jvm_fast_path_matches_general_case(spark):
    """The max_by JVM streaming upsert must converge to the general
    case, the batch argmax (A5), over the bounded replay — the stream
    is an execution-strategy swap, not a semantics change."""
    batch = latest_per_key(
        table(spark, SF_SMOKE, "events"), ["user_id"], "ts", ["event_id"]
    ).select("user_id", "ts", "event_id", "event_type", "value", "props")
    stream = bounded_event_stream(spark, SF_SMOKE)
    with tempfile.TemporaryDirectory() as ckpt:
        emitted = run_available_now(
            latest_upsert_stream_jvm(stream),
            "latest_upsert_jvm_test",
            ckpt,
            output_mode="update",
        )
        final = latest_per_key(emitted, ["user_id"], "ts", ["event_id"])
        assert _rows(final.select(*batch.columns)) == _rows(batch)


def test_dedup_watermarked_horizon_semantics(spark):
    """The dropDuplicatesWithinWatermark branch of dedup_events
    (watermark != None), driven file-per-micro-batch so the global
    watermark advances between deliveries.  Codifies the three
    horizon behaviors (verified against Spark's streaming dedup
    operator semantics):

    1. a redelivery inside the retry horizon is DROPPED (id 1 at
       10:00 again in batch 2 — its state is alive);
    2. a redelivery whose event time is BEHIND the watermark is
       dropped as late data even after its dedup state expired
       (id 2 at 10:05 again in batch 4, watermark by then 11:20);
    3. an id re-arriving with a FRESH event time after its state
       aged out (eviction happens end-of-batch, so one batch of
       separation) is emitted again (id 1 at 11:40 in batch 4) —
       the one-sided guarantee: dedup is exact within the horizon,
       best-effort beyond it.
    """
    import json as _json
    import os

    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    with tempfile.TemporaryDirectory() as src, tempfile.TemporaryDirectory() as ckpt:

        def write(name, rows, mtime):
            p = os.path.join(src, name)
            with open(p, "w") as f:
                for r in rows:
                    f.write(_json.dumps(r) + "\n")
            os.utime(p, (mtime, mtime))

        def ev(eid, ts, val=1.0):
            return {
                "event_id": eid,
                "ts": ts,
                "user_id": eid,
                "event_type": "t",
                "value": val,
            }

        base = 1_700_000_000  # distinct mtimes order the micro-batches
        write("f1.json", [ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:05:00")], base)
        write("f2.json", [ev(1, "2024-01-01 10:00:00"), ev(3, "2024-01-01 11:00:00")], base + 10)
        write("f3.json", [ev(4, "2024-01-01 11:30:00")], base + 20)
        write("f4.json", [ev(1, "2024-01-01 11:40:00"), ev(2, "2024-01-01 10:05:00")], base + 30)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        from real_time_data_analytics_cassandra_spark.streaming.pipelines import (
            dedup_events,
        )

        emitted = run_available_now(
            dedup_events(stream, watermark="10 minutes"),
            "wm_dedup_test",
            ckpt,
            output_mode="append",
        )
        got = sorted((r.event_id, str(r.ts)) for r in emitted.collect())
        assert got == [
            (1, "2024-01-01 10:00:00"),  # first delivery
            (1, "2024-01-01 11:40:00"),  # beyond-horizon re-arrival (3)
            (2, "2024-01-01 10:05:00"),  # once only: late redelivery dropped (2)
            (3, "2024-01-01 11:00:00"),
            (4, "2024-01-01 11:30:00"),
        ], got


def test_transition_log_state_spans_micro_batches(spark):
    """The stateful transition operator must chain a user's events
    ACROSS micro-batches (the remembered last event is the
    predecessor of the next batch's first row), repair in-batch
    disorder by (ts, event_id) sorting, and emit nothing for a user's
    first-ever event.  Driven file-per-micro-batch in event-time
    order, compared against the batch lag window over the union."""
    import json as _json
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark.streaming.pipelines import (
        transition_log_stream,
    )

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    rows = [
        # user 1: click -> view in batch 1 (OUT OF ORDER in the file),
        # then purchase in batch 2, error in batch 3
        {"f": 1, "event_id": 2, "ts": "2024-01-01 10:05:00", "user_id": 1, "event_type": "view"},
        {"f": 1, "event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "click"},
        {"f": 2, "event_id": 3, "ts": "2024-01-01 10:10:00", "user_id": 1, "event_type": "purchase"},
        {"f": 3, "event_id": 5, "ts": "2024-01-01 10:20:00", "user_id": 1, "event_type": "error"},
        # user 2: single event in batch 1 (emits nothing), then view
        {"f": 1, "event_id": 4, "ts": "2024-01-01 10:01:00", "user_id": 2, "event_type": "signup"},
        {"f": 3, "event_id": 6, "ts": "2024-01-01 10:30:00", "user_id": 2, "event_type": "view"},
    ]
    with tempfile.TemporaryDirectory() as src, tempfile.TemporaryDirectory() as ckpt:
        base = 1_700_000_000
        for fno in (1, 2, 3):
            p = os.path.join(src, f"f{fno}.json")
            with open(p, "w") as fh:
                for r in rows:
                    if r["f"] == fno:
                        fh.write(_json.dumps({k: v for k, v in r.items() if k != "f"}) + "\n")
            os.utime(p, (base + fno * 10, base + fno * 10))

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        emitted = run_available_now(
            transition_log_stream(stream),
            "transition_log_test",
            ckpt,
            output_mode="append",
        )
        got = sorted(
            (r.user_id, r.prev_type, r.next_type, str(r.ts))
            for r in emitted.collect()
        )

    batch = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"], r["event_type"]) for r in rows],
        "event_id long, ts string, user_id long, event_type string",
    ).select("event_id", F.to_timestamp("ts").alias("ts"), "user_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = sorted(
        (r.user_id, r.prev_type, r.event_type, str(r.ts))
        for r in batch.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .collect()
    )
    assert got == want and len(got) == 4, (got, want)


def test_transition_counter_table_matches_batch_matrix(spark):
    """Full write path composition: the stateful transition log
    (applyInPandasWithState) feeds the replay-protected incremental
    counter sink (counter_foreach_batch/merge_add) — the maintained
    (prev, next) counter table must equal the batch lag-window
    transition matrix over the same events."""
    import os

    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark import queries as q
    from real_time_data_analytics_cassandra_spark.sinks.merge import (
        counter_foreach_batch,
    )
    from real_time_data_analytics_cassandra_spark.sources.streams import (
        bounded_event_stream,
    )
    from real_time_data_analytics_cassandra_spark.streaming.pipelines import (
        transition_log_stream,
    )

    with tempfile.TemporaryDirectory() as base:
        log = transition_log_stream(
            bounded_event_stream(spark, SF_SMOKE).select(
                "user_id", "ts", "event_id", "event_type"
            )
        )
        path = os.path.join(base, "transition_counts")
        query = counter_foreach_batch(
            log,
            path,
            keys=["next_type"],
            partition_col="prev_type",
            checkpoint=os.path.join(base, "ckpt"),
        )
        query.awaitTermination()
        got = {
            (r.prev_type, r.next_type): r.cnt
            for r in spark.read.parquet(path).collect()
        }
    want = {
        (r.prev_type, r.next_type): r.n_transitions
        for r in q.event_transition_matrix(spark, SF_SMOKE).collect()
    }
    assert got == want and len(want) > 0


def test_multicast_restart_is_exactly_once(spark):
    """ST4: resuming the multicast from its checkpoint after new data
    lands must process ONLY the new file — every event appears exactly
    once in the event log (the reference's at-least-once counters can
    double count; checkpointing makes that impossible here)."""
    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark.streaming.pipelines import (
        multicast_foreach_batch,
    )

    with tempfile.TemporaryDirectory() as src, tempfile.TemporaryDirectory() as out, tempfile.TemporaryDirectory() as ckpt:
        events = table(spark, SF_SMOKE, "events").limit(200).cache()
        first, second = events.filter("event_id % 2 = 0"), events.filter(
            "event_id % 2 = 1"
        )
        first.write.mode("append").parquet(src)
        schema = spark.read.parquet(src).schema

        def run():
            stream = spark.readStream.schema(schema).parquet(src)
            multicast_foreach_batch(stream, out, ckpt).awaitTermination()

        run()
        second.write.mode("append").parquet(src)
        run()

        log = spark.read.parquet(f"{out}/event_log")
        assert log.count() == events.count()
        dupes = log.groupBy("event_id").count().filter(F.col("count") > 1)
        assert dupes.count() == 0
        events.unpersist()


def test_multicast_foreach_batch_writes_all_views(spark):
    """Over several micro-batches the event log is exactly the events
    multiset and every row is counted once by ``numInputRows``.
    Checked on both sides of the one-file rule: at the default advisory
    size every batch is coalesced to one partition, at 1 byte none is."""
    events = table(spark, SF_SMOKE, "events")
    n_events = events.count()
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    saved = spark.conf.get(key)
    for advisory in (saved, "1b"):
        spark.conf.set(key, advisory)
        try:
            stream = sharded_table_stream(spark, SF_SMOKE, "events", time_cols=("ts",))
            with tempfile.TemporaryDirectory() as out, tempfile.TemporaryDirectory() as ckpt:
                query = multicast_foreach_batch(stream, out, ckpt)
                query.awaitTermination()
                progress = query.recentProgress
                assert len(progress) > 1
                assert sum(p.numInputRows for p in progress) == n_events

                log = spark.read.parquet(f"{out}/event_log")
                assert _rows(log.select(*events.columns)) == _rows(events)
        finally:
            spark.conf.set(key, saved)


def test_multicast_small_batch_is_one_job_one_file(spark):
    """A drain whose batch fits one advisory partition appends exactly
    one parquet file to the event log in exactly one Spark job, and its
    ``numInputRows`` is the rows landed — on a second drain too."""
    import os

    sc = spark.sparkContext
    events = table(spark, SF_SMOKE, "events")
    n_events = events.count()
    with tempfile.TemporaryDirectory() as base:
        src, log = f"{base}/landing", f"{base}/out/event_log"
        for drain in range(2):
            events.write.mode("append").parquet(src)
            stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
            files = set(os.listdir(log)) if drain else set()
            query = multicast_foreach_batch(stream, f"{base}/out", f"{base}/ckpt")
            query.awaitTermination()
            # the stream thread runs every micro-batch job in the job
            # group of its run id; wait until the status store has them
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = sc.statusTracker().getJobIdsForGroup(str(query.runId))
            added = {f for f in os.listdir(log) if f.startswith("part-")} - files
            assert len(jobs) == 1, (drain, jobs)
            assert len(added) == 1 and added.pop().endswith(".parquet"), (drain, added)
            assert query.lastProgress.numInputRows == n_events


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState Python workers need the protobuf package",
)
def test_user_stats_tws_matches_batch(spark, tmp_path):
    """State-v2 custom operator (transformWithStateInPandas on
    RocksDB): final per-user stats must equal the batch aggregation —
    exact, because the value total accumulates in integer cents."""
    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark.sources.streams import (
        bounded_event_stream,
    )
    from real_time_data_analytics_cassandra_spark.streaming.pipelines import (
        run_available_now,
        user_stats_stream_tws,
    )

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(conf_key)
    spark.conf.set(
        conf_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = bounded_event_stream(spark, SF_SMOKE)
        emitted = run_available_now(
            user_stats_stream_tws(stream),
            "tws_user_stats_q",
            str(tmp_path / "ckpt"),
            output_mode="update",
        )
    finally:
        spark.conf.set(conf_key, saved)
    final = (
        emitted.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_events", "total_value", "last_ts"), F.col("n_events")
            ).alias("r")
        )
        .select("user_id", "r.n_events", "r.total_value", "r.last_ts")
    )
    events = table(spark, SF_SMOKE, "events")
    batch = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.coalesce(
                F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2), F.lit(0)
            )
            .cast("decimal(15,2)")
            .cast("double")
        ).alias("total_value"),
        F.max("ts").alias("last_ts"),
    )
    got = {r["user_id"]: (r["n_events"], r["total_value"], r["last_ts"]) for r in final.collect()}
    want = {r["user_id"]: (r["n_events"], r["total_value"], r["last_ts"]) for r in batch.collect()}
    assert got == want


def test_span_dedup_stream_matches_batch_keep_first(spark):
    """Continuous span dedup: an id-ordered file stream folded
    through span_dedup_foreach_batch must accumulate exactly the
    one-shot keep_first_segment_dedup result."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark.operators.dedup import (
        keep_first_segment_dedup,
    )
    from real_time_data_analytics_cassandra_spark.streaming.pipelines import (
        span_dedup_foreach_batch,
    )

    docs = table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="rtdac_span_stream_")
    src = os.path.join(base, "in")
    os.makedirs(src)
    # three id-ordered files; distinct mtimes pin the arrival order
    bounds = [(0, 170), (171, 340), (341, 10**9)]
    for i, (lo, hi) in enumerate(bounds):
        part = docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
        )
        part.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, f"b{i}")
        )
    files = []
    for i in range(3):
        d = os.path.join(src, f"b{i}")
        f = [x for x in os.listdir(d) if x.endswith(".parquet")][0]
        tgt = os.path.join(src, f"part{i}.parquet")
        os.rename(os.path.join(d, f), tgt)
        os.utime(tgt, (1000000 + i * 100, 1000000 + i * 100))
        files.append(tgt)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = span_dedup_foreach_batch(
        stream,
        os.path.join(base, "idx"),
        os.path.join(base, "out"),
        os.path.join(base, "ckpt"),
    )
    q.awaitTermination()

    got = {
        r["id"]: tuple(r)
        for r in spark.read.parquet(os.path.join(base, "out")).collect()
    }
    expect = {
        r["id"]: tuple(r)
        for r in keep_first_segment_dedup(docs, "doc_id", "text", 8).collect()
    }
    assert got == expect


def test_streaming_observed_quality_matches_batch_observe(spark):
    """The per-micro-batch observe() metrics, folded with their
    accumulator semantics across the replay, must equal the batch
    single-pass observe readout bit-for-bit.  The replay arrives as
    4 micro-batches by construction (sharded staging +
    maxFilesPerTrigger=1 — test_sharded_stream_produces_batches in
    test_sources.py gates that), so the fold is not vacuous."""
    from real_time_data_analytics_cassandra_spark import queries as q

    got = q.streaming_observed_quality(spark, SF_SMOKE).collect()
    want = q.observed_ingest_quality(spark, SF_SMOKE).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert got[0]["n_rows"] > 0


def test_streaming_image_clusters_match_batch_collapse(spark):
    """The stream-maintained image-signature cluster table (min-merge
    canon + counter-merge sizes over 4 micro-batches) must equal the
    batch signature collapse bit-for-bit."""
    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark import queries as q
    from real_time_data_analytics_cassandra_spark.operators import (
        multimodal as mm,
    )

    docs = table(spark, SF_SMOKE, "documents")
    sig = mm.image_ahash_signatures(
        mm.attach_payload(docs, "doc_id", "text", "png")
    )
    want = {
        (r["sig_hi"], r["sig_lo"]): (r["canon_id"], r["cluster_size"])
        for r in sig.groupBy("sig_hi", "sig_lo")
        .agg(
            F.min("doc_id").alias("canon_id"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
        .collect()
    }
    got = {
        (r["sig_hi"], r["sig_lo"]): (r["canon_id"], r["cluster_size"])
        for r in q.streaming_image_signature_clusters(
            spark, SF_SMOKE
        ).collect()
    }
    assert got == want


def test_incremental_image_near_dup_matches_batch(spark):
    """The stream-maintained near-PAIR table (band-index probes over 4
    micro-batches, canon/size resolved at read time) must equal the
    batch banded-Hamming operator row-for-row — pairs are discovered
    exactly once, when their second signature first arrives, so the
    batch split must be invisible in the readout."""
    from real_time_data_analytics_cassandra_spark import queries as q

    got = {
        tuple(r)
        for r in q.incremental_image_near_dup(spark, SF_SMOKE).collect()
    }
    want = {
        tuple(r) for r in q.image_phash_near_dup(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert len(want) > 0, "fixture must actually exercise the pair path"


def test_incremental_pairs_zero_pair_corpus_reads_empty(spark, tmp_path):
    """A corpus whose signatures generate NO qualifying pairs must
    still read back cleanly (the pair directory holds only partition
    markers; the pinned-schema read returns the typed empty relation)
    and the cluster table must still be complete."""
    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark.operators import (
        multimodal as mm,
    )

    # two signatures farther than the threshold apart (Hamming 64)
    sig = spark.createDataFrame(
        [(1, 0, 0), (2, (1 << 32) - 1, (1 << 32) - 1)],
        "doc_id long, sig_hi long, sig_lo long",
    )
    tmp = str(tmp_path)
    mm.incremental_signature_pairs_fold(
        sig, f"{tmp}/clu", f"{tmp}/bands", f"{tmp}/pairs", batch_id=0
    )
    out = mm.incremental_signature_pairs_read(
        spark, f"{tmp}/clu", f"{tmp}/pairs"
    )
    assert out.count() == 0
    clu = spark.read.parquet(f"{tmp}/clu")
    assert clu.select(F.sum("one")).collect()[0][0] == 2


@pytest.mark.slow
def test_incremental_pairs_crash_retry_no_self_pairs(spark, monkeypatch, tmp_path):
    """r11 ADVICE gate: a fold that dies AFTER the band/pair appends
    but BEFORE the cluster merge leaves the retry's signatures
    probing their own failed-attempt band rows.  The retry must not
    fabricate (S, S) self-pairs (the new-x-old inequality filter),
    and after the retry completes the readout must be byte-identical
    to a never-crashed fold of the same batches."""
    from real_time_data_analytics_cassandra_spark.operators import (
        multimodal as mm,
    )
    from real_time_data_analytics_cassandra_spark.sinks import merge as mg

    sigs = [
        spark.createDataFrame(
            [(1, 5, 0)], "doc_id long, sig_hi long, sig_lo long"
        ),
        spark.createDataFrame(
            [(2, 5, 1)], "doc_id long, sig_hi long, sig_lo long"
        ),  # hamming 1 from batch 0's signature -> one true pair
    ]
    crash, clean = str(tmp_path / "crash"), str(tmp_path / "clean")

    for root in (crash, clean):
        mm.incremental_signature_pairs_fold(
            sigs[0], f"{root}/clu", f"{root}/bands", f"{root}/pairs", batch_id=0
        )

    # simulated crash: batch 1's band + pair appends land, the
    # cluster merge (the LAST write, carrying the replay guard) dies
    real_merge = mg.merge_min_add

    def dying_merge(*a, **kw):
        raise RuntimeError("injected crash before cluster merge")

    monkeypatch.setattr(mg, "merge_min_add", dying_merge)
    try:
        mm.incremental_signature_pairs_fold(
            sigs[1], f"{crash}/clu", f"{crash}/bands", f"{crash}/pairs", batch_id=1
        )
    except RuntimeError:
        pass
    monkeypatch.setattr(mg, "merge_min_add", real_merge)

    # retry (signature 2 is still absent from the cluster table, so
    # it re-folds against an index already holding its own bands)
    mm.incremental_signature_pairs_fold(
        sigs[1], f"{crash}/clu", f"{crash}/bands", f"{crash}/pairs", batch_id=1
    )
    mm.incremental_signature_pairs_fold(
        sigs[1], f"{clean}/clu", f"{clean}/bands", f"{clean}/pairs", batch_id=1
    )

    got = sorted(
        tuple(r)
        for r in mm.incremental_signature_pairs_read(
            spark, f"{crash}/clu", f"{crash}/pairs"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in mm.incremental_signature_pairs_read(
            spark, f"{clean}/clu", f"{clean}/pairs"
        ).collect()
    )
    assert got == want
    assert len(want) == 1, "fixture must exercise the one true pair"
    assert all(r[0] != r[1] for r in got), "self-pair leaked through retry"
    # the FOLD itself must not have persisted a self-pair — check the
    # raw table so the reader's belt-and-braces heal can't mask a
    # fold regression
    from pyspark.sql import functions as F

    raw = spark.read.parquet(f"{crash}/pairs")
    n_self = raw.filter(
        (F.col("hi_a") == F.col("hi_b")) & (F.col("lo_a") == F.col("lo_b"))
    ).count()
    assert n_self == 0, "fold persisted an (S, S) self-pair on retry"


def test_incremental_audio_near_dup_matches_batch(spark):
    """The audio twin of the stream-maintained near-pair gate: same
    fold operators at 8x8-bit bands must equal the batch audio
    banded-Hamming operator row-for-row."""
    from real_time_data_analytics_cassandra_spark import queries as q

    got = {
        tuple(r)
        for r in q.incremental_audio_near_dup(spark, SF_SMOKE).collect()
    }
    want = {
        tuple(r)
        for r in q.audio_fingerprint_near_dup(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_streaming_domain_crawl_stats_matches_batch(spark):
    """streaming_domain_crawl_stats must equal the batch
    domain_crawl_stats table row-for-row: the (domain, text-hash,
    page) state counts are additive and the shared readout helper is
    a pure function of them, so the micro-batch split must be
    invisible."""
    from real_time_data_analytics_cassandra_spark import queries as q

    got = [
        tuple(r)
        for r in q.streaming_domain_crawl_stats(spark, SF_SMOKE).collect()
    ]
    want = [
        tuple(r) for r in q.domain_crawl_stats(spark, SF_SMOKE).collect()
    ]
    assert got == want
    assert len(want) > 0


@pytest.mark.parametrize(
    "name",
    [
        "streaming_ols_trend",
        "streaming_ks_drift",
        "streaming_hdr_percentiles",
        "streaming_kmv_distinct_per_type",
    ],
)
def test_streaming_events_queries_read_nanosecond_ts(spark, tmp_path, monkeypatch, name):
    """Some testdata generations store ``events.ts`` as parquet
    TIMESTAMP(NANOS), which the session reads as a long
    (catalog.py ``_NANO_TS_COLS``).  A streaming query over events must
    normalize it as ``catalog.table`` does and return exactly what it
    returns over the microsecond encoding."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_data_analytics_cassandra_spark import queries as q
    from tools.oracle_check import first_mismatch

    # stream staging dirs and checkpoints land under tmp_path, not $TMPDIR
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    nanos = tmp_path / "sf_nanos"
    nanos.mkdir()
    for f in os.listdir(SF_SMOKE):
        if f != "events.parquet":
            os.symlink(os.path.join(SF_SMOKE, f), nanos / f)
    events = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    i = events.schema.get_field_index("ts")
    events = events.set_column(
        i, "ts", events.column(i).cast(pa.timestamp("ns"))
    )
    pq.write_table(events, nanos / "events.parquet")
    ts_type = pq.read_schema(nanos / "events.parquet").field("ts").type
    assert ts_type == pa.timestamp("ns")

    query = q.queries()[name]
    micros = query(spark, SF_SMOKE).toPandas()
    assert len(micros) > 0
    assert first_mismatch(query(spark, str(nanos)).toPandas(), micros) is None


def test_memory_sink_queries_delete_their_checkpoint(spark, tmp_path, monkeypatch):
    """A memory-sink streaming query keeps its rows in the driver, so
    it deletes its ``rtdac_ckpt_`` checkpoint once the stream has
    drained; a fold-into-table query reads its scratch table once,
    eagerly, and deletes the dir too — and the rows each returns
    still match the oracle."""
    from real_time_data_analytics_cassandra_spark import queries as q
    from tools.oracle_check import duck, first_mismatch

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    con = duck(SF_SMOKE)
    registry, oracle = q.queries(), q.oracle_sql()
    for name in (
        "streaming_hourly_type_counts",
        "streaming_observed_quality",
        "streaming_new_vs_returning",
        "streaming_benford_drift",
        "streaming_hourly_cusum",
        "streaming_kmv_distinct_per_type",
    ):
        got = registry[name](spark, SF_SMOKE).toPandas()
        assert len(got) > 0, name
        assert first_mismatch(got, con.sql(oracle[name]).df()) is None, name
    left = [p.name for p in tmp_path.iterdir() if p.name.startswith("rtdac_ckpt_")]
    assert left == []
