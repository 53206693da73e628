"""Snapshot-versioned table invariants (sinks/snapshots.py): atomic
commits, time travel, crash invisibility, and reference-safe expiry.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from real_time_data_analytics_cassandra_spark.sinks import snapshots as snap


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_append_versions_accumulate_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    v1 = snap.write_snapshot(_df(spark, 0, 5), path, mode="append")
    v2 = snap.write_snapshot(_df(spark, 5, 8), path, mode="append")
    assert (v1, v2) == (1, 2)
    assert _ids(snap.read_snapshot(spark, path)) == list(range(8))
    assert _ids(snap.read_snapshot(spark, path, version=1)) == list(range(5))
    assert snap.snapshot_versions(path) == [1, 2]


def test_overwrite_is_logical_old_version_still_readable(spark, tmp_path):
    path = str(tmp_path / "t")
    snap.write_snapshot(_df(spark, 0, 5), path, mode="append")
    v2 = snap.write_snapshot(_df(spark, 100, 103), path, mode="overwrite")
    assert v2 == 2
    assert _ids(snap.read_snapshot(spark, path)) == [100, 101, 102]
    # time travel: v1 is byte-stable after the overwrite
    assert _ids(snap.read_snapshot(spark, path, version=1)) == list(range(5))


def test_crashed_write_is_invisible(spark, tmp_path):
    path = str(tmp_path / "t")
    snap.write_snapshot(_df(spark, 0, 5), path, mode="append")
    # simulate a crash: data files land but no manifest is committed
    orphan_dir = os.path.join(path, "data", "snap-orphan")
    _df(spark, 900, 905).write.parquet(orphan_dir)
    assert snap.snapshot_versions(path) == [1]
    assert _ids(snap.read_snapshot(spark, path)) == list(range(5))
    # expiry reclaims the orphan files
    report = snap.expire_snapshots(path, keep_last=1)
    assert report["deleted_files"] > 0
    assert not os.path.exists(orphan_dir)
    assert _ids(snap.read_snapshot(spark, path)) == list(range(5))


def test_expire_keeps_shared_files_of_retained_versions(spark, tmp_path):
    # a relative table path: expiry matches the files it walks against
    # the manifests' absolute URIs
    path = os.path.relpath(tmp_path / "t")
    snap.write_snapshot(_df(spark, 0, 5), path, mode="append")
    snap.write_snapshot(_df(spark, 5, 8), path, mode="append")
    snap.write_snapshot(_df(spark, 8, 9), path, mode="append")
    report = snap.expire_snapshots(path, keep_last=1)
    assert report["dropped_versions"] == [1, 2]
    # v3's file list includes v1/v2's files (append lineage): all of
    # them must survive expiry
    assert _ids(snap.read_snapshot(spark, path)) == list(range(9))
    with pytest.raises(ValueError):
        snap.read_snapshot(spark, path, version=1)


def test_expire_deletes_files_of_dropped_overwritten_versions(spark, tmp_path):
    path = str(tmp_path / "t")
    snap.write_snapshot(_df(spark, 0, 5), path, mode="append")
    snap.write_snapshot(_df(spark, 50, 53), path, mode="overwrite")
    report = snap.expire_snapshots(path, keep_last=1)
    assert report["dropped_versions"] == [1]
    assert report["deleted_files"] > 0  # v1's files are unreferenced now
    assert _ids(snap.read_snapshot(spark, path)) == [50, 51, 52]


def test_single_writer_conflict_raises(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    snap.write_snapshot(_df(spark, 0, 3), path)
    snap.write_snapshot(_df(spark, 3, 5), path)
    # simulate the race: this writer listed versions BEFORE the other
    # writer committed v2, so it also tries to commit v2
    real = snap.snapshot_versions
    monkeypatch.setattr(
        snap, "snapshot_versions", lambda p: [v for v in real(p) if v < 2]
    )
    with pytest.raises(RuntimeError, match="concurrent"):
        snap.write_snapshot(_df(spark, 5, 8), path)
    monkeypatch.setattr(snap, "snapshot_versions", real)
    # the losing writer's tmp manifest was cleaned up; table intact
    assert snap.snapshot_versions(path) == [1, 2]
    assert _ids(snap.read_snapshot(spark, path)) == list(range(5))


def test_schema_travels_with_the_manifest(spark, tmp_path):
    path = str(tmp_path / "t")
    snap.write_snapshot(_df(spark, 0, 3), path)
    got = snap.read_snapshot(spark, path)
    assert [f.name for f in got.schema.fields] == ["id", "v"]
    assert dict(got.dtypes)["v"] == "bigint"


def test_snapshot_diff_detects_insert_update_delete(spark, tmp_path):
    path = str(tmp_path / "t")
    v1_rows = [(1, "a"), (2, "b"), (3, "c")]
    v2_rows = [(2, "B"), (3, "c"), (4, "d")]  # 1 deleted, 2 updated, 4 new
    snap.write_snapshot(
        spark.createDataFrame(v1_rows, "k long, v string"), path
    )
    snap.write_snapshot(
        spark.createDataFrame(v2_rows, "k long, v string"),
        path,
        mode="overwrite",
    )
    diff = {
        r["k"]: (r["_change"], r["v_new"], r["v_old"])
        for r in snap.snapshot_diff(spark, path, 1, 2, ["k"]).collect()
    }
    assert diff == {
        1: ("delete", None, "a"),
        2: ("update", "B", "b"),
        4: ("insert", "d", None),
    }


def test_snapshot_foreach_batch_commits_one_version_per_batch(spark, tmp_path):
    import os

    from real_time_data_analytics_cassandra_spark.sinks.snapshots import (
        snapshot_foreach_batch,
    )
    from real_time_data_analytics_cassandra_spark.sources.streams import (
        bounded_event_stream,
    )
    from tests.conftest import SF_SMOKE
    from real_time_data_analytics_cassandra_spark.catalog import table

    base = str(tmp_path)
    path = os.path.join(base, "t")
    stream = bounded_event_stream(spark, SF_SMOKE).select(
        "event_id", "event_type", "user_id"
    )
    q = snapshot_foreach_batch(stream, path, os.path.join(base, "ckpt"))
    q.awaitTermination()
    versions = snap.snapshot_versions(path)
    assert versions, "stream must have committed at least one version"
    got = sorted(
        r["event_id"] for r in snap.read_snapshot(spark, path).collect()
    )
    expect = sorted(
        r["event_id"]
        for r in table(spark, SF_SMOKE, "events").select("event_id").collect()
    )
    assert got == expect
    # each intermediate version is a strict prefix of the next
    sizes = [
        snap.read_snapshot(spark, path, v).count() for v in versions
    ]
    assert sizes == sorted(sizes)


def test_compact_snapshot_preserves_rows_and_bounds_files(spark, tmp_path):
    from real_time_data_analytics_cassandra_spark.sinks.snapshots import (
        compact_snapshot,
    )

    path = str(tmp_path / "t")
    for lo in range(0, 40, 10):
        snap.write_snapshot(_df(spark, lo, lo + 10), path, mode="append")
    before = snap._load_manifest(path, 4)
    v5 = compact_snapshot(spark, path, target_files=2)
    assert v5 == 5
    after = snap._load_manifest(path, 5)
    assert after["op"] == "overwrite"
    assert len(after["files"]) <= 2 + 0  # exactly the target count
    assert len(after["files"]) < len(before["files"])
    assert _ids(snap.read_snapshot(spark, path)) == list(range(40))
    # parent version still readable until expiry
    assert _ids(snap.read_snapshot(spark, path, version=4)) == list(range(40))
    report = snap.expire_snapshots(path, keep_last=1)
    assert 4 in report["dropped_versions"]
    assert _ids(snap.read_snapshot(spark, path)) == list(range(40))


def test_write_audit_publish_gates_bad_batches(spark, tmp_path):
    from real_time_data_analytics_cassandra_spark.sinks.snapshots import (
        AuditFailed,
        write_snapshot_audited,
    )

    path = str(tmp_path / "t")
    checks = {"v_positive": F.col("v") > 0}
    good = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    v, report = write_snapshot_audited(good, path, checks)
    assert v == 1 and all(r["passed"] for r in report)

    bad = spark.createDataFrame([(3, -5), (4, 30)], "k long, v long")
    try:
        write_snapshot_audited(bad, path, checks)
        assert False, "audit must reject the batch"
    except AuditFailed as e:
        assert any(not r["passed"] for r in e.report)
    # the failed batch never became a version; the table is unchanged
    assert snap.snapshot_versions(path) == [1]
    assert sorted(r["k"] for r in snap.read_snapshot(spark, path).collect()) == [1, 2]
    # its staged files are reclaimable like a crashed write
    rep = snap.expire_snapshots(path, keep_last=1)
    assert rep["deleted_files"] > 0
    assert sorted(r["k"] for r in snap.read_snapshot(spark, path).collect()) == [1, 2]


def test_crash_mid_commit_leaves_tmp_manifest_invisible(spark, tmp_path):
    import os

    path = str(tmp_path / "t")
    snap.write_snapshot(_df(spark, 0, 4), path)
    # simulate a writer that died between staging the manifest and
    # the atomic rename: a .tmp- file lingers in _manifests
    tmp = os.path.join(path, "_manifests", ".tmp-deadbeef")
    with open(tmp, "w") as fh:
        fh.write('{"version": 99}')
    assert snap.snapshot_versions(path) == [1]
    assert _ids(snap.read_snapshot(spark, path)) == list(range(4))
    # and the next commit proceeds normally past the debris
    v2 = snap.write_snapshot(_df(spark, 4, 6), path)
    assert v2 == 2
    assert _ids(snap.read_snapshot(spark, path)) == list(range(6))


def _clustered(spark, lo, hi, files=4):
    # range-partition on id so each data file carries a tight id span
    return (
        spark.range(lo, hi)
        .select(F.col("id"), (F.col("id") * 2).alias("v"))
        .repartitionByRange(files, "id")
    )


def test_scan_snapshot_prunes_files_by_manifest_stats(spark, tmp_path):
    """File skipping: a range predicate on the clustering column must
    plan over strictly fewer files than the table holds, and return
    exactly what read_snapshot().filter() returns."""
    path = str(tmp_path / "t")
    snap.write_snapshot(
        _clustered(spark, 0, 1000), path, mode="append", stats_cols=("id", "v")
    )
    total = len(snap.read_snapshot(spark, path).inputFiles())
    assert total >= 4
    pruned = snap.scan_snapshot(spark, path, "id", lo=10, hi=60)
    assert len(pruned.inputFiles()) < total
    full = snap.read_snapshot(spark, path).filter(
        (F.col("id") >= 10) & (F.col("id") <= 60)
    )
    assert _ids(pruned) == _ids(full) == list(range(10, 61))
    # half-open ranges prune too
    tail = snap.scan_snapshot(spark, path, "id", lo=900)
    assert len(tail.inputFiles()) < total
    assert _ids(tail) == list(range(900, 1000))


def test_scan_snapshot_append_merges_stats_and_keeps_statless_files(
    spark, tmp_path
):
    """Retained parent files keep their stats across appends; files
    committed WITHOUT stats are conservatively kept in every scan."""
    path = str(tmp_path / "t")
    snap.write_snapshot(
        _clustered(spark, 0, 400), path, mode="append", stats_cols=("id",)
    )
    # second commit without stats: must always be scanned
    snap.write_snapshot(_clustered(spark, 400, 500, files=1), path, mode="append")
    snap.write_snapshot(
        _clustered(spark, 500, 900), path, mode="append", stats_cols=("id",)
    )
    total = len(snap.read_snapshot(spark, path).inputFiles())
    pruned = snap.scan_snapshot(spark, path, "id", lo=0, hi=50)
    assert _ids(pruned) == list(range(0, 51))
    kept = set(pruned.inputFiles())
    assert len(kept) < total
    # the statless commit's file(s) survive pruning despite not matching
    mani = snap._load_manifest(path, snap.snapshot_versions(path)[-1])
    statless = [f for f in mani["files"] if "id" not in mani["file_stats"].get(f, {})]
    assert statless and all(f in kept for f in statless)


def test_scan_snapshot_empty_prune_keeps_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    snap.write_snapshot(
        _clustered(spark, 0, 100), path, mode="append", stats_cols=("id",)
    )
    out = snap.scan_snapshot(spark, path, "id", lo=10_000)
    assert out.columns == ["id", "v"] and out.count() == 0


def test_bloom_index_prunes_point_lookup_files(spark, tmp_path):
    """Bloom file index: a point lookup on a NON-clustered column
    (ids hashed across files, so min/max skipping is useless) must
    open a strict subset of the files and return exactly the
    full-scan answer; the index commit is metadata-only (new version,
    identical file list)."""
    path = str(tmp_path / "t")
    df = (
        spark.range(0, 2000)
        .select(F.col("id"), (F.col("id") % 7).alias("g"))
        .repartition(8, "g")  # id values spread across every file
    )
    v1 = snap.write_snapshot(df, path, mode="append")
    v2 = snap.add_bloom_index(spark, path, "id")
    assert v2 == v1 + 1
    m1 = snap._load_manifest(path, v1)
    m2 = snap._load_manifest(path, v2)
    assert m2["files"] == m1["files"] and m2["op"] == "index"

    total = len(snap.read_snapshot(spark, path).inputFiles())
    hit = snap.lookup_snapshot(spark, path, "id", 1234)
    assert [r["id"] for r in hit.collect()] == [1234]
    assert len(hit.inputFiles()) < total

    # absent key: the residual filter guarantees zero rows even if a
    # false positive admits a file
    miss = snap.lookup_snapshot(spark, path, "id", 999_999)
    assert miss.count() == 0
    assert len(miss.inputFiles() if miss.inputFiles() else []) <= total


def test_lookup_without_index_scans_all_files_correctly(spark, tmp_path):
    path = str(tmp_path / "t")
    snap.write_snapshot(_clustered(spark, 0, 300), path, mode="append")
    out = snap.lookup_snapshot(spark, path, "id", 42)
    assert [r["id"] for r in out.collect()] == [42]


def test_read_snapshot_appended_returns_only_new_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    v1 = snap.write_snapshot(_df(spark, 0, 100), path, mode="append")
    snap.write_snapshot(_df(spark, 100, 150), path, mode="append")
    v3 = snap.write_snapshot(_df(spark, 150, 180), path, mode="append")
    inc = snap.read_snapshot_appended(spark, path, since_version=v1)
    assert _ids(inc) == list(range(100, 180))
    # bounded range (since v1 up to v3-1)
    mid = snap.read_snapshot_appended(spark, path, v1, version=v3 - 1)
    assert _ids(mid) == list(range(100, 150))
    # no-op range: empty with schema intact
    none = snap.read_snapshot_appended(spark, path, v3, version=v3)
    assert none.columns == ["id", "v"] and none.count() == 0


def test_read_snapshot_appended_refuses_overwrite_ranges(spark, tmp_path):
    path = str(tmp_path / "t")
    v1 = snap.write_snapshot(_df(spark, 0, 50), path, mode="append")
    snap.write_snapshot(_df(spark, 50, 60), path, mode="overwrite")
    with pytest.raises(ValueError, match="snapshot_diff"):
        snap.read_snapshot_appended(spark, path, v1)
    # index-only commits are additive: fine
    path2 = str(tmp_path / "t2")
    w1 = snap.write_snapshot(_df(spark, 0, 50), path2, mode="append")
    snap.add_bloom_index(spark, path2, "id")
    assert snap.read_snapshot_appended(spark, path2, w1).count() == 0


def test_snapshot_schema_evolution_add_and_drop_column(spark, tmp_path):
    """Appends evolve the schema by FIELD UNION: a new column appears
    table-wide (null for old files); a batch that OMITS a column
    cannot erase it from history; a type change is refused."""
    path = str(tmp_path / "t")
    snap.write_snapshot(_df(spark, 0, 3), path, mode="append")
    with_extra = _df(spark, 3, 6).withColumn("w", F.col("id") * 10)
    snap.write_snapshot(with_extra, path, mode="append")
    out = snap.read_snapshot(spark, path)
    assert out.columns == ["id", "v", "w"]
    rows = {r.id: r.w for r in out.collect()}
    assert rows[0] is None and rows[4] == 40
    # a later batch without 'w': column survives, nulls for that batch
    snap.write_snapshot(_df(spark, 6, 8), path, mode="append")
    out2 = snap.read_snapshot(spark, path)
    assert out2.columns == ["id", "v", "w"]
    assert {r.id: r.w for r in out2.collect()}[7] is None
    # type conflict refused
    bad = spark.range(8, 9).select(
        F.col("id"), F.col("id").cast("string").alias("v")
    )
    with pytest.raises(ValueError, match="cannot change column 'v'"):
        snap.write_snapshot(bad, path, mode="append")


def test_streamed_snapshot_commits_carry_file_stats(spark, tmp_path):
    """stats_cols forwarded through the streaming sink: each
    micro-batch version records min/max for its files and
    scan_snapshot prunes streamed data like batch data."""
    import os

    src = str(tmp_path / "src")
    for lo in (0, 500):
        _clustered(spark, lo, lo + 500, files=1).write.mode(
            "append"
        ).parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", "1").parquet(src)
    path = str(tmp_path / "t")
    q = snap.snapshot_foreach_batch(
        stream, path, str(tmp_path / "ckpt"), stats_cols=("id",)
    )
    q.awaitTermination()
    assert len(snap.snapshot_versions(path)) >= 2
    total = len(snap.read_snapshot(spark, path).inputFiles())
    pruned = snap.scan_snapshot(spark, path, "id", lo=0, hi=40)
    assert len(pruned.inputFiles()) < total
    assert _ids(pruned) == list(range(0, 41))


def test_delete_from_snapshot_is_merge_on_read(spark, tmp_path):
    """Equality deletes: rows vanish from the NEW version without any
    data-file rewrite; time travel still sees them; a later append
    may re-insert the key (sequence semantics)."""
    path = str(tmp_path / "t")
    v1 = snap.write_snapshot(_df(spark, 0, 10), path, mode="append")
    keys = spark.createDataFrame([(3,), (7,)], "id long")
    v2 = snap.delete_from_snapshot(spark, keys, path, "id")
    assert v2 == v1 + 1
    assert _ids(snap.read_snapshot(spark, path)) == [
        0, 1, 2, 4, 5, 6, 8, 9
    ]
    # no data file was rewritten
    m1, m2 = snap._load_manifest(path, v1), snap._load_manifest(path, v2)
    assert m2["files"] == m1["files"]
    # time travel: pre-delete version intact
    assert _ids(snap.read_snapshot(spark, path, version=v1)) == list(range(10))
    # re-insert key 3: the NEW row survives the older tombstone
    snap.write_snapshot(
        spark.createDataFrame([(3, 333)], "id long, v long"), path
    )
    rows = {r.id: r.v for r in snap.read_snapshot(spark, path).collect()}
    assert rows[3] == 333 and 7 not in rows


def test_upsert_into_snapshot_shadows_old_rows_atomically(spark, tmp_path):
    path = str(tmp_path / "t")
    snap.write_snapshot(_df(spark, 0, 6), path, mode="append")
    batch = spark.createDataFrame([(2, 222), (10, 100)], "id long, v long")
    v = snap.upsert_into_snapshot(spark, batch, path, "id")
    rows = {r.id: r.v for r in snap.read_snapshot(spark, path).collect()}
    assert rows == {0: 0, 1: 2, 2: 222, 3: 6, 4: 8, 5: 10, 10: 100}
    # upserting again updates again (tombstones stack by sequence)
    snap.upsert_into_snapshot(
        spark, spark.createDataFrame([(2, 999)], "id long, v long"), path, "id"
    )
    rows = {r.id: r.v for r in snap.read_snapshot(spark, path).collect()}
    assert rows[2] == 999 and rows[10] == 100
    # scan/lookup paths also apply deletes
    assert {
        r.id for r in snap.lookup_snapshot(spark, path, "id", 2).collect()
    } == {2}
    got = snap.scan_snapshot(spark, path, "id", lo=0, hi=3)
    assert {r.id: r.v for r in got.collect()}[2] == 999


def test_compact_applies_tombstones_and_clears_them(spark, tmp_path):
    path = str(tmp_path / "t")
    snap.write_snapshot(_df(spark, 0, 20), path, mode="append")
    snap.delete_from_snapshot(
        spark, spark.createDataFrame([(1,), (2,)], "id long"), path, "id"
    )
    before = _ids(snap.read_snapshot(spark, path))
    v = snap.compact_snapshot(spark, path, target_files=2)
    m = snap._load_manifest(path, v)
    assert m["delete_files"] == []
    assert _ids(snap.read_snapshot(spark, path)) == before
    # expire keeps only the compacted version; tombstones of dropped
    # versions are reclaimed, referenced files survive
    snap.expire_snapshots(path, keep_last=1)
    assert _ids(snap.read_snapshot(spark, path)) == before


def test_delete_key_mismatch_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    snap.write_snapshot(_df(spark, 0, 5), path, mode="append")
    snap.delete_from_snapshot(
        spark, spark.createDataFrame([(1,)], "id long"), path, "id"
    )
    with pytest.raises(ValueError, match="cannot mix"):
        snap.delete_from_snapshot(
            spark, spark.createDataFrame([(2,)], "v long"), path, "v"
        )


@pytest.mark.slow
def test_mor_upsert_foreach_batch_latest_state_wins(spark, tmp_path):
    """Streaming MERGE INTO: per-file micro-batches upsert in order;
    the final table holds last-write state per key, replay leaves the
    visible state unchanged."""
    src = str(tmp_path / "src")
    # batch files with overlapping keys; maxFilesPerTrigger=1 gives
    # one upsert commit per file in lexicographic (deterministic) order
    spark.createDataFrame(
        [(1, 10), (2, 20)], "id long, v long"
    ).coalesce(1).write.parquet(src + "/b=0")
    spark.createDataFrame(
        [(2, 222), (3, 30)], "id long, v long"
    ).coalesce(1).write.parquet(src + "/b=1")
    stream = (
        spark.readStream.schema("id long, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/b=*")
    )
    path = str(tmp_path / "t")
    snap.mor_upsert_foreach_batch(
        stream, path, "id", str(tmp_path / "ck")
    ).awaitTermination()
    rows = {r.id: r.v for r in snap.read_snapshot(spark, path).collect()}
    assert rows == {1: 10, 2: 222, 3: 30}
    # replaying the same source from a fresh checkpoint re-commits but
    # the visible state is unchanged (shadow-by-key)
    stream2 = (
        spark.readStream.schema("id long, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/b=*")
    )
    snap.mor_upsert_foreach_batch(
        stream2, path, "id", str(tmp_path / "ck2")
    ).awaitTermination()
    rows2 = {r.id: r.v for r in snap.read_snapshot(spark, path).collect()}
    assert rows2 == rows
    # compaction folds everything back to a tombstone-free table
    v = snap.compact_snapshot(spark, path, target_files=1)
    assert snap._load_manifest(path, v)["delete_files"] == []
    assert {
        r.id: r.v for r in snap.read_snapshot(spark, path).collect()
    } == rows


def test_scan_snapshot_without_bounds_is_full_read(spark, tmp_path):
    path = str(tmp_path / "t")
    snap.write_snapshot(
        _clustered(spark, 0, 100), path, mode="append", stats_cols=("id",)
    )
    assert _ids(snap.scan_snapshot(spark, path, "id")) == list(range(100))


def test_crash_mid_upsert_leaves_table_unchanged(spark, tmp_path, monkeypatch):
    """Atomicity of the MOR upsert: if the manifest write dies AFTER
    tombstone+data staging, readers still see the parent version —
    staged files are orphans (reclaimable), never data."""
    path = str(tmp_path / "t")
    snap.write_snapshot(_df(spark, 0, 5), path, mode="append")
    before = _ids(snap.read_snapshot(spark, path))

    def boom(*a, **k):
        raise RuntimeError("disk died")

    monkeypatch.setattr(snap, "_atomic_write_manifest", boom)
    with pytest.raises(RuntimeError, match="disk died"):
        snap.upsert_into_snapshot(
            spark,
            spark.createDataFrame([(1, 111)], "id long, v long"),
            path,
            "id",
        )
    monkeypatch.undo()
    assert snap.snapshot_versions(path) == [1]
    assert _ids(snap.read_snapshot(spark, path)) == before
    # staged orphans are reclaimed by expiry
    res = snap.expire_snapshots(path, keep_last=1)
    assert res["deleted_files"] >= 1
    assert _ids(snap.read_snapshot(spark, path)) == before


@pytest.mark.slow
def test_audited_stream_publishes_good_batches_quarantines_bad(
    spark, tmp_path
):
    """Streaming WAP: clean micro-batches commit one version each;
    a violating batch becomes NO version and lands in quarantine with
    its audit report attached."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "id long, v long"
    ).coalesce(1).write.parquet(src + "/b=0")
    spark.createDataFrame(
        [(3, -5), (4, 40)], "id long, v long"  # negative v: violation
    ).coalesce(1).write.parquet(src + "/b=1")
    stream = (
        spark.readStream.schema("id long, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/b=*")
    )
    path, qpath = str(tmp_path / "t"), str(tmp_path / "q")
    snap.audited_snapshot_foreach_batch(
        stream,
        path,
        {"v_non_negative": F.col("v") >= 0},
        str(tmp_path / "ck"),
        quarantine=qpath,
    ).awaitTermination()
    # only the clean batch published
    assert len(snap.snapshot_versions(path)) == 1
    assert _ids(snap.read_snapshot(spark, path)) == [1, 2]
    # the bad batch is inspectable, report attached
    quar = spark.read.parquet(qpath)
    assert sorted(r.id for r in quar.collect()) == [3, 4]
    report = quar.select("_audit_report").first()[0]
    assert "v_non_negative" in report


def test_snapshot_health_reports_maintenance_signals(spark, tmp_path):
    path = str(tmp_path / "t")
    snap.write_snapshot(
        _clustered(spark, 0, 100), path, mode="append", stats_cols=("id",)
    )
    snap.add_bloom_index(spark, path, "id")
    snap.delete_from_snapshot(
        spark, spark.createDataFrame([(1,)], "id long"), path, "id"
    )
    h = snap.snapshot_health(path)
    assert h["versions"] == 3 and h["files"] >= 4
    assert h["tombstone_commits"] == 1 and h["read_branches"] == 1
    assert h["indexed_columns"] == ["id"] and h["stats_columns"] == ["id"]
    assert h["avg_file_mb"] > 0
    # compaction clears the tombstone pressure
    snap.compact_snapshot(spark, path, target_files=2)
    h2 = snap.snapshot_health(path)
    assert h2["tombstone_commits"] == 0 and h2["files"] <= 2


def test_compact_with_zorder_enables_multi_dim_pruning(spark, tmp_path):
    """OPTIMIZE ZORDER for snapshots: after a z-ordered compaction
    with stats, range scans on EITHER clustered dimension open fewer
    files than the table holds, and rows are preserved exactly."""
    path = str(tmp_path / "t")
    df = spark.range(0, 4096).select(
        F.col("id").alias("x"),
        F.pmod(F.col("id") * 2654435761, F.lit(4096)).alias("y"),
    )
    snap.write_snapshot(df.repartition(8), path, mode="append")
    before = sorted((r.x, r.y) for r in snap.read_snapshot(spark, path).collect())
    v = snap.compact_snapshot(
        spark, path, target_files=8,
        zorder_cols=("x", "y"), stats_cols=("x", "y"),
    )
    after = sorted((r.x, r.y) for r in snap.read_snapshot(spark, path).collect())
    assert after == before
    total = len(snap.read_snapshot(spark, path).inputFiles())
    sx = snap.scan_snapshot(spark, path, "x", lo=0, hi=255)
    sy = snap.scan_snapshot(spark, path, "y", lo=0, hi=255)
    assert len(sx.inputFiles()) < total, "x-range should skip files"
    assert len(sy.inputFiles()) < total, "y-range should skip files"
    assert sorted(r.x for r in sx.collect()) == list(range(256))


def test_version_asof_resolves_by_commit_time(spark, tmp_path):
    import time

    path = str(tmp_path / "t")
    v1 = snap.write_snapshot(_df(spark, 0, 3), path)
    t_mid = time.time()
    time.sleep(0.01)
    v2 = snap.write_snapshot(_df(spark, 3, 6), path)
    assert snap.version_asof(path, t_mid) == v1
    assert snap.version_asof(path, time.time()) == v2
    assert _ids(
        snap.read_snapshot(spark, path, snap.version_asof(path, t_mid))
    ) == [0, 1, 2]
    with pytest.raises(ValueError, match="no version"):
        snap.version_asof(path, 0.0)
    # delete, upsert and index commits stamp their own commit time, so
    # none of them resolves as of a moment before it was committed
    path = str(tmp_path / "t2")
    w1 = snap.write_snapshot(_df(spark, 0, 6), path)
    t_mid = time.time()
    time.sleep(0.01)
    snap.delete_from_snapshot(
        spark, spark.createDataFrame([(1,)], "id long"), path, "id"
    )
    snap.upsert_into_snapshot(
        spark, spark.createDataFrame([(2, 0)], "id long, v long"), path, "id"
    )
    snap.add_bloom_index(spark, path, "id")
    assert snap.version_asof(path, t_mid) == w1
    assert _ids(
        snap.read_snapshot(spark, path, snap.version_asof(path, t_mid))
    ) == list(range(6))
    assert _ids(snap.read_snapshot(spark, path)) == [0, 2, 3, 4, 5]


def test_bloom_index_survives_plain_append(spark, tmp_path):
    """A plain append AFTER add_bloom_index must carry the parent's
    bloom entry forward (the index stays valid: per-file words never
    change and unindexed new files fall back to must-scan), so point
    lookups keep pruning instead of silently degrading to scanning
    every file."""
    path = str(tmp_path / "t")
    snap.write_snapshot(_clustered(spark, 0, 400), path, mode="append")
    snap.add_bloom_index(spark, path, "id")
    snap.write_snapshot(_clustered(spark, 400, 500, files=1), path, mode="append")

    vs = snap.snapshot_versions(path)
    m = snap._load_manifest(path, vs[-1])
    assert "id" in m.get("bloom", {}), "append dropped the bloom index"

    total = len(snap.read_snapshot(spark, path).inputFiles())
    hit = snap.lookup_snapshot(spark, path, "id", 7)
    assert _ids(hit) == [7]
    # indexed old files prune; only the unindexed appended file is
    # force-kept -> strictly fewer files open than the full table
    assert len(hit.inputFiles()) < total
    # a key in the UNindexed appended file is still found
    assert _ids(snap.lookup_snapshot(spark, path, "id", 450)) == [450]


def test_stats_cols_decimal_degrades_to_no_stats(spark, tmp_path):
    """pyarrow cannot decode parquet min/max for decimal logical
    types — stats_cols naming one must not crash the COMMIT; the
    column simply gets no stats and scans conservatively keep every
    file (results stay exact via the residual filter)."""
    path = str(tmp_path / "t")
    df = (
        spark.range(0, 100)
        .select(F.col("id"), F.col("id").cast("decimal(10,2)").alias("d"))
        .repartitionByRange(4, "id")
    )
    snap.write_snapshot(df, path, mode="append", stats_cols=("d", "id"))
    m = snap._load_manifest(path, 1)
    per_file = list(m["file_stats"].values())
    assert per_file and all("d" not in s for s in per_file)
    assert all("id" in s for s in per_file)  # numeric stats intact
    out = snap.scan_snapshot(spark, path, "d", lo=10, hi=20)
    assert sorted(int(r["id"]) for r in out.collect()) == list(range(10, 21))
    assert len(out.inputFiles()) == len(
        snap.read_snapshot(spark, path).inputFiles()
    )


def test_scan_snapshot_type_mismatched_bound_keeps_files(spark, tmp_path):
    """A numeric bound against a file whose recorded stat is a STRING
    (str()-normalized non-numeric stats, or a foreign writer) must
    conservatively keep the file — raw Python ordering would
    TypeError mid-planning — and results stay exact via the residual
    filter."""
    import json as _json

    path = str(tmp_path / "t")
    snap.write_snapshot(
        _clustered(spark, 0, 100), path, mode="append", stats_cols=("id",)
    )
    # manifest surgery: replace the numeric id stats with their string
    # forms (lexicographic order != numeric order)
    mp = snap._manifest_path(path, 1)
    with open(mp) as fh:
        m = _json.load(fh)
    for s in m["file_stats"].values():
        s["id"] = [str(s["id"][0]).zfill(4), str(s["id"][1]).zfill(4)]
    with open(mp, "w") as fh:
        _json.dump(m, fh)
    out = snap.scan_snapshot(spark, path, "id", lo=10, hi=20)
    assert sorted(r["id"] for r in out.collect()) == list(range(10, 21))
    # no pruning happened (every stat is type-incompatible) — and no
    # TypeError either
    assert len(out.inputFiles()) == len(
        snap.read_snapshot(spark, path).inputFiles()
    )


def test_renamed_table_reads_the_same(spark, tmp_path):
    """Manifests store data files relative to the table root, so a
    table written in one directory and renamed — how an atomically
    published fixture lands — keeps its rows, time travel, tombstones
    and Bloom pruning."""
    built, moved = str(tmp_path / "stage"), str(tmp_path / "t")
    df = spark.range(0, 2000).select(F.col("id"), (F.col("id") % 7).alias("v"))
    v1 = snap.write_snapshot(df.repartition(8, "v"), built)
    keys = spark.createDataFrame([(3,), (7,)], "id long")
    snap.delete_from_snapshot(spark, keys, built, "id")
    snap.add_bloom_index(spark, built, "id")
    want = _ids(snap.read_snapshot(spark, built))
    os.rename(built, moved)
    assert _ids(snap.read_snapshot(spark, moved)) == want
    assert _ids(snap.read_snapshot(spark, moved, version=v1)) == list(range(2000))
    hit = snap.lookup_snapshot(spark, moved, "id", 1234)
    assert [r["id"] for r in hit.collect()] == [1234]
    assert len(hit.inputFiles()) < len(snap.read_snapshot(spark, moved).inputFiles())
    snap.write_snapshot(spark.createDataFrame([(3, 0)], "id long, v long"), moved)
    assert 3 in _ids(snap.read_snapshot(spark, moved))
