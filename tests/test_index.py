"""Persisted inverted-index invariants (operators/index.py): a
build-once/search-many BM25 index must return bit-identical results to
scoring the corpus from scratch, while its search plan reads ONLY the
hive partitions holding the query's term buckets.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_data_analytics_cassandra_spark.catalog import table
from real_time_data_analytics_cassandra_spark.operators import index as idx
from real_time_data_analytics_cassandra_spark.operators import text as text_op
from real_time_data_analytics_cassandra_spark.plans import explain_str
from real_time_data_analytics_cassandra_spark.sinks.merge import _fs
from tests.conftest import SF_SMOKE

TERMS = ("stream", "merge", "window")


@pytest.fixture(scope="module")
def text_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("index") / "bm25")
    docs = table(spark, SF_SMOKE, "documents")
    meta = idx.build_text_index(docs, path, "doc_id", "text")
    return path, meta


def test_persisted_search_equals_fresh_bm25(spark, text_index):
    path, _ = text_index
    docs = table(spark, SF_SMOKE, "documents")
    fresh = text_op.bm25_topk(docs, "doc_id", "text", TERMS).collect()
    persisted = idx.bm25_search_index(spark, path, TERMS).collect()
    assert [tuple(r) for r in persisted] == [tuple(r) for r in fresh]


def test_search_prunes_to_term_buckets(spark, text_index):
    path, meta = text_index
    df = idx.bm25_search_index(spark, path, TERMS)
    plan = explain_str(df)
    assert "PartitionFilters" in plan
    part_section = plan.split("PartitionFilters")[1].split("]")[0]
    assert "bucket" in part_section, plan
    # the term IN-list must also push into the postings scan
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "term" in pushed, plan


def test_index_stats_match_corpus(spark, text_index):
    path, meta = text_index
    docs = table(spark, SF_SMOKE, "documents")
    assert meta["n_docs"] == docs.count()
    stats = spark.read.parquet(f"{path}/stats").collect()[0]
    dl = docs.select(
        F.size(F.split("text", " ")).cast("bigint").alias("dl")
    ).agg(F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n"))
    row = dl.collect()[0]
    assert stats["n_docs"] == row["n"]
    assert stats["avgdl"] == row["avgdl"]
    # dfreq of a probe term agrees with a direct count
    probe = TERMS[0]
    direct = docs.filter(
        F.array_contains(F.split("text", " "), probe)
    ).count()
    got = (
        spark.read.parquet(f"{path}/termstats")
        .filter(F.col("term") == probe)
        .collect()[0]["dfreq"]
    )
    assert got == direct


def test_incremental_terms_not_in_corpus_are_harmless(spark, text_index):
    path, _ = text_index
    out = idx.bm25_search_index(
        spark, path, ("stream", "zzz_not_a_term")
    ).collect()
    docs = table(spark, SF_SMOKE, "documents")
    fresh = text_op.bm25_topk(
        docs, "doc_id", "text", ("stream", "zzz_not_a_term")
    ).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in fresh]


@pytest.mark.slow
def test_append_equals_fresh_full_build_and_replay_is_noop(
    spark, tmp_path_factory
):
    """build(half) + append(other half) must leave every stored table
    equal to a fresh full build's, so search is bit-identical; a
    replayed append batch changes nothing (anti-join idempotency)."""
    docs = table(spark, SF_SMOKE, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    inc_path = str(tmp_path_factory.mktemp("index") / "inc")
    idx.build_text_index(old, inc_path, "doc_id", "text")
    meta = idx.append_text_index(new, inc_path, "doc_id", "text")
    assert meta["n_new_docs"] == new.count()
    assert meta["n_docs"] == docs.count()

    full_path = str(tmp_path_factory.mktemp("index") / "full")
    idx.build_text_index(docs, full_path, "doc_id", "text")

    for t in ("postings", "termstats", "docstats", "stats"):
        # the batch stamp is ingest provenance, not index content —
        # it differs between incremental and one-shot builds by design
        a = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{inc_path}/{t}")
            .drop("batch")
            .collect()
        )
        b = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{full_path}/{t}")
            .drop("batch")
            .collect()
        )
        assert a == b, f"{t} differs between incremental and fresh"

    inc = idx.bm25_search_index(spark, inc_path, TERMS).collect()
    full = idx.bm25_search_index(spark, full_path, TERMS).collect()
    assert [tuple(r) for r in inc] == [tuple(r) for r in full]

    # replaying the SAME batch must be a no-op
    meta2 = idx.append_text_index(new, inc_path, "doc_id", "text")
    assert meta2["n_new_docs"] == 0
    again = idx.bm25_search_index(spark, inc_path, TERMS).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in full]


@pytest.mark.slow
def test_crashed_append_is_rolled_back_and_retried(
    spark, tmp_path_factory
):
    """A crash ANYWHERE inside an append must not double postings on
    replay (the pre-marker protocol re-appended the same postings if
    the crash landed between the postings write and the docstats
    write).  Simulate exactly that half-applied state — pending marker
    present, batch postings written, docstats/termstats NOT updated —
    then retry the append: the repair must roll the partial batch back
    and the retried append must leave every table equal to a fresh
    full build's."""
    docs = table(spark, SF_SMOKE, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    inc_path = str(tmp_path_factory.mktemp("index") / "crash")
    idx.build_text_index(old, inc_path, "doc_id", "text")

    # forge the half-applied batch: marker + postings only
    from real_time_data_analytics_cassandra_spark.functions.textfns import (
        tokens,
    )
    from real_time_data_analytics_cassandra_spark.operators.sampling import (
        hash_bucket,
    )

    partial = (
        new.select(
            F.col("doc_id"),
            F.explode(tokens(F.col("text"))).alias("term"),
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .withColumn("bucket", hash_bucket("term", idx.N_BUCKETS))
        .withColumn("batch", F.lit("bDEADBEEF"))
    )
    partial.write.mode("append").partitionBy("bucket", "batch").parquet(
        f"{inc_path}/postings"
    )
    fs, marker = _fs(spark, f"{inc_path}/pending/bDEADBEEF")
    fs.mkdirs(marker.getParent())
    fs.create(marker, True).close()

    meta = idx.append_text_index(new, inc_path, "doc_id", "text")
    assert meta["repaired"] == ["bDEADBEEF"]
    assert meta["n_new_docs"] == new.count()
    assert not fs.exists(marker)

    full_path = str(tmp_path_factory.mktemp("index") / "full")
    idx.build_text_index(docs, full_path, "doc_id", "text")
    for t in ("postings", "termstats", "docstats", "stats"):
        a = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{inc_path}/{t}")
            .drop("batch")
            .collect()
        )
        b = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{full_path}/{t}")
            .drop("batch")
            .collect()
        )
        assert a == b, f"{t} differs after crash repair"
    inc = idx.bm25_search_index(spark, inc_path, TERMS).collect()
    full = idx.bm25_search_index(spark, full_path, TERMS).collect()
    assert [tuple(r) for r in inc] == [tuple(r) for r in full]


def test_phrase_forms_agree_and_count_overlaps(spark):
    """The zero-shuffle HOF form and the postings-join form must
    return identical (doc, count, first_pos) sets; overlapping
    occurrences count individually in both."""
    from real_time_data_analytics_cassandra_spark import queries as q

    hof = {
        (r.doc_id, r.n_occurrences, r.first_pos)
        for r in q.phrase_search(spark, SF_SMOKE).collect()
    }
    post = {
        (r.doc_id, r.n_occurrences, r.first_pos)
        for r in q.phrase_search_postings(spark, SF_SMOKE).collect()
    }
    assert hof == post
    assert hof, "fixture corpus must contain the phrase"

    tiny = spark.createDataFrame(
        [(1, "a a a b a a"), (2, "a b"), (3, "x y z"), (4, "a")],
        "doc_id long, text string",
    )
    for fn in (text_op.phrase_occurrences, text_op.phrase_occurrences_postings):
        got = {
            (r.doc_id, r.n_occurrences, r.first_pos)
            for r in fn(tiny, "doc_id", "text", ["a", "a"]).collect()
        }
        # doc 1: positions 1,2 (overlap) and 5 -> 3 occurrences
        assert got == {(1, 3, 1)}, (fn.__name__, got)


def test_phrase_hof_plan_is_shuffle_free_before_ordering(spark):
    """The HOF form's only exchange is the output ordering: strip the
    final orderBy and the plan must contain no Exchange at all."""
    docs = table(spark, SF_SMOKE, "documents")
    plan = explain_str(
        text_op.phrase_occurrences(docs, "doc_id", "text", ["value", "table"])
    )
    assert "Exchange" not in plan, plan


@pytest.mark.slow
def test_repair_clears_stale_termstats_of_emptied_bucket(
    spark, tmp_path_factory
):
    """A crash AFTER the termstats overwrite (marker still present,
    every table already written) where the crashed batch is the ONLY
    contributor to a termstats bucket: rollback deletes that bucket's
    postings, so the re-derived slice is EMPTY and dynamic partition
    overwrite alone would leave the stale termstats/bucket=X directory
    in place — the retried append would then merge on top of it and
    double dfreq.  _refresh_derived must clear the touched bucket dirs
    explicitly.  ("uniqterm" hashes to bucket 14; "alpha"/"beta" to
    23/59 — the batch is the bucket's sole contributor.)"""
    base = spark.createDataFrame(
        [(1, "alpha beta")], "doc_id long, text string"
    )
    new = spark.createDataFrame([(2, "uniqterm")], "doc_id long, text string")
    path = str(tmp_path_factory.mktemp("index") / "stale")
    idx.build_text_index(base, path, "doc_id", "text")
    meta = idx.append_text_index(new, path, "doc_id", "text")
    batch = meta["batch"]
    assert meta["n_new_docs"] == 1

    # forge the crash: the committed state with the marker re-created
    # is byte-identical to a crash between the stats write and the
    # marker delete
    fs, marker = _fs(spark, f"{path}/pending/{batch}")
    fs.mkdirs(marker.getParent())
    fs.create(marker, True).close()

    meta2 = idx.append_text_index(new, path, "doc_id", "text")
    assert meta2["repaired"] == [batch]
    assert not fs.exists(marker)

    got = (
        spark.read.parquet(f"{path}/termstats")
        .filter(F.col("term") == "uniqterm")
        .select("term", "dfreq")
        .collect()
    )
    assert [(r.term, r.dfreq) for r in got] == [("uniqterm", 1)]

    full_path = str(tmp_path_factory.mktemp("index") / "stale_full")
    idx.build_text_index(base.unionByName(new), full_path, "doc_id", "text")
    for t in ("postings", "termstats", "docstats", "stats"):
        a = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{path}/{t}").drop("batch").collect()
        )
        b = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{full_path}/{t}")
            .drop("batch")
            .collect()
        )
        assert a == b, f"{t} differs after emptied-bucket repair"
