"""Semantic tests for cross-document boilerplate removal
(operators/dedup.py::segment_scrub) on crafted corpora where the
expected scrubbed text is known by hand — the oracle-parity test
proves engine agreement; these prove the operator does the RIGHT
thing."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_data_analytics_cassandra_spark.operators.dedup import segment_scrub

# an 8-token span shared verbatim by several docs (the "template")
BP = "subscribe to our newsletter for all the updates"
U1 = "alpha beta gamma delta epsilon zeta eta theta"
U2 = "one two three four five six seven eight"
U3 = "red orange yellow green blue indigo violet mauve"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shared_segment_removed_unique_kept(spark):
    df = _docs(
        spark,
        [
            (1, f"{BP} {U1}"),
            (2, f"{BP} {U2}"),
            (3, U3),
        ],
    )
    out = {
        r["id"]: r
        for r in segment_scrub(df, "doc_id", "text", seg_len=8).collect()
    }
    assert out[1]["clean_text"] == U1
    assert out[2]["clean_text"] == U2
    assert out[3]["clean_text"] == U3
    assert out[1]["n_segments"] == 2 and out[1]["n_removed"] == 1
    assert out[3]["n_removed"] == 0


def test_all_boilerplate_doc_becomes_empty(spark):
    df = _docs(spark, [(1, BP), (2, BP), (3, U1)])
    out = {
        r["id"]: r
        for r in segment_scrub(df, "doc_id", "text", seg_len=8).collect()
    }
    assert out[1]["clean_text"] == "" and out[1]["n_removed"] == 1
    assert out[2]["clean_text"] == ""
    assert out[3]["clean_text"] == U1


def test_segment_order_preserved(spark):
    # doc 1 interleaves unique and shared segments; scrub must keep
    # the unique ones in original order
    df = _docs(spark, [(1, f"{U1} {BP} {U2}"), (2, BP), (3, U3)])
    out = {
        r["id"]: r
        for r in segment_scrub(df, "doc_id", "text", seg_len=8).collect()
    }
    assert out[1]["clean_text"] == f"{U1} {U2}"
    assert out[1]["n_segments"] == 3 and out[1]["n_removed"] == 1


def test_max_docs_threshold(spark):
    # with max_docs=2, a segment shared by exactly 2 docs survives
    df = _docs(spark, [(1, f"{BP} {U1}"), (2, f"{BP} {U2}")])
    out = {
        r["id"]: r
        for r in segment_scrub(df, "doc_id", "text", seg_len=8, max_docs=2).collect()
    }
    assert out[1]["clean_text"] == f"{BP} {U1}"
    assert out[1]["n_removed"] == 0


def test_tail_segment_shorter_than_seg_len(spark):
    # 10 tokens -> one full 8-token segment + one 2-token tail segment
    df = _docs(spark, [(1, f"{U1} tail end"), (2, U2)])
    out = {
        r["id"]: r
        for r in segment_scrub(df, "doc_id", "text", seg_len=8).collect()
    }
    assert out[1]["n_segments"] == 2
    assert out[1]["clean_text"] == f"{U1} tail end"


def test_empty_text_rows_absent(spark):
    df = _docs(spark, [(1, ""), (2, U1)])
    got = segment_scrub(df, "doc_id", "text", seg_len=8).collect()
    assert [r["id"] for r in got] == [2]


def test_keep_first_span_dedup_semantics(spark):
    from real_time_data_analytics_cassandra_spark.operators.dedup import (
        keep_first_segment_dedup,
    )

    df = _docs(
        spark,
        [
            (1, f"{BP} {U1}"),
            (2, f"{BP} {U2}"),
            (3, f"{U3} {BP}"),
            (4, U2),
        ],
    )
    out = {
        r["id"]: r
        for r in keep_first_segment_dedup(
            df, "doc_id", "text", seg_len=8
        ).collect()
    }
    # doc 1 is the corpus-wide first occurrence of BP: kept in full
    assert out[1]["clean_text"] == f"{BP} {U1}"
    assert out[1]["n_removed"] == 0
    # later occurrences of BP are scrubbed, unique spans survive
    assert out[2]["clean_text"] == U2
    assert out[2]["n_removed"] == 1
    assert out[3]["clean_text"] == U3
    assert out[3]["n_removed"] == 1
    # doc 4 repeats doc 2's unique span; doc 2 owns it (lower doc_id)
    assert out[4]["clean_text"] == ""
    assert out[4]["n_removed"] == 1
    # corpus-wide: every distinct segment survives exactly once
    kept = " ".join(
        t for i in sorted(out) for t in out[i]["clean_text"].split() if t
    )
    all_segs = {BP, U1, U2, U3}
    assert sorted(kept.split()) == sorted(" ".join(all_segs).split())


def test_keep_first_within_doc_repeat(spark):
    from real_time_data_analytics_cassandra_spark.operators.dedup import (
        keep_first_segment_dedup,
    )

    # the SAME doc repeats a span: second occurrence scrubbed too
    df = _docs(spark, [(7, f"{BP} {BP}")])
    row = keep_first_segment_dedup(df, "doc_id", "text", seg_len=8).collect()[0]
    assert row["clean_text"] == BP
    assert row["n_segments"] == 2 and row["n_removed"] == 1


def test_span_index_dedup_incremental_equals_batch(spark, tmp_path):
    from real_time_data_analytics_cassandra_spark.operators.dedup import (
        keep_first_segment_dedup,
        span_index_dedup_batch,
    )

    rows = [
        (1, f"{BP} {U1}"),
        (2, f"{BP} {U2}"),
        (3, f"{U3} {BP}"),
        (4, U2),
        (5, f"{U1} {U3}"),
        (6, f"{BP} {BP}"),
    ]
    df = _docs(spark, rows)
    expect = {
        r["id"]: tuple(r)
        for r in keep_first_segment_dedup(df, "doc_id", "text", 8).collect()
    }
    # the index path is storage-agnostic: a file:// URI folds the same
    for idx in (str(tmp_path / "span_idx"), (tmp_path / "span_uri").as_uri()):
        got = {}
        # id-ordered arrival in three batches -> must equal one-shot batch
        for b, lo, hi in ((0, 1, 2), (1, 3, 4), (2, 5, 6)):
            part = df.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
            )
            out = span_index_dedup_batch(
                spark, part, idx, "doc_id", "text", 8, batch_id=b
            )
            for r in out.collect():
                got[r["id"]] = tuple(r)
        assert got == expect, idx


def test_span_index_dedup_outputs_survive_later_fold_overwrites(
    spark, tmp_path
):
    """r13 checkpoint-eagerness guard: fold outputs are forced only
    AFTER every later fold has overwritten the index (the shape the
    incremental_* registry queries run — all folds built, then one
    union job).  The lazy winner-set checkpoint must have been
    materialized by its fold's own index-rewrite job, so the deferred
    collect never reads the since-rewritten index files."""
    from real_time_data_analytics_cassandra_spark.operators.dedup import (
        keep_first_segment_dedup,
        span_index_dedup_batch,
    )

    rows = [
        (1, f"{BP} {U1}"),
        (2, f"{BP} {U2}"),
        (3, f"{U3} {BP}"),
        (4, U2),
        (5, f"{U1} {U3}"),
        (6, f"{BP} {BP}"),
    ]
    df = _docs(spark, rows)
    expect = {
        r["id"]: tuple(r)
        for r in keep_first_segment_dedup(df, "doc_id", "text", 8).collect()
    }
    idx = str(tmp_path / "span_idx_deferred")
    outs = []
    for b, lo, hi in ((0, 1, 2), (1, 3, 4), (2, 5, 6)):
        part = df.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
        )
        outs.append(
            span_index_dedup_batch(
                spark, part, idx, "doc_id", "text", 8, batch_id=b
            )
        )
    merged = outs[0].unionByName(outs[1]).unionByName(outs[2])
    got = {r["id"]: tuple(r) for r in merged.collect()}
    assert got == expect


def test_span_index_dedup_replay_is_idempotent(spark, tmp_path):
    from real_time_data_analytics_cassandra_spark.operators.dedup import (
        span_index_dedup_batch,
    )

    idx = str(tmp_path / "span_idx_replay")
    b0 = _docs(spark, [(1, f"{BP} {U1}"), (2, U2)])
    b1 = _docs(spark, [(3, f"{BP} {U3}"), (4, U2)])
    span_index_dedup_batch(spark, b0, idx, "doc_id", "text", 8, batch_id=0)
    first = sorted(
        map(
            tuple,
            span_index_dedup_batch(
                spark, b1, idx, "doc_id", "text", 8, batch_id=1
            ).collect(),
        )
    )
    index_after = sorted(
        map(tuple, spark.read.parquet(idx).drop("bucket").collect())
    )
    # redeliver batch 1 (foreachBatch at-least-once): same verdicts,
    # identical index state
    replay = sorted(
        map(
            tuple,
            span_index_dedup_batch(
                spark, b1, idx, "doc_id", "text", 8, batch_id=1
            ).collect(),
        )
    )
    index_replay = sorted(
        map(tuple, spark.read.parquet(idx).drop("bucket").collect())
    )
    assert replay == first
    assert index_replay == index_after
    # doc 3 lost BP (owned by batch 0's doc 1), doc 4 lost U2
    by_id = {t[0]: t for t in first}
    assert by_id[3][3] == U3
    assert by_id[4][3] == ""


# --- TRUE ExactSubstr (operators/dedup.py::exact_substr_scrub) -----------


def _words(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_exact_substr_catches_boundary_straddling_repeat(spark):
    """The r11 verdict's gap case: a 49-token repeat whose two
    occurrences sit at DIFFERENT offsets mod 8 shares no fixed
    8-token segment, so the lite operator (segment_scrub) removes
    nothing — the anchored form must scrub exactly the 49 repeated
    tokens from both documents and keep everything else."""
    from real_time_data_analytics_cassandra_spark.operators.dedup import (
        exact_substr_scrub,
    )

    rep = _words("rep", 49)
    # doc 1: repeat at token offset 0; doc 2: at offset 3 (mod 8 != 0)
    a_tail = _words("atail", 11)
    b_head = _words("bhead", 3)
    b_tail = _words("btail", 12)
    df = _docs(spark, [(1, f"{rep} {a_tail}"), (2, f"{b_head} {rep} {b_tail}")])

    lite = {
        r["id"]: r["n_removed"]
        for r in segment_scrub(df, "doc_id", "text", seg_len=8).collect()
    }
    assert lite == {1: 0, 2: 0}, (
        f"misaligned repeat must slide past the fixed segments: {lite}"
    )

    got = {
        r["id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in exact_substr_scrub(
            df, "doc_id", "text", min_len=16
        ).collect()
    }
    assert got[1] == (60, 49, a_tail)
    assert got[2] == (64, 49, f"{b_head} {b_tail}")


def test_exact_substr_within_doc_repeat_and_short_docs(spark):
    """Within-document repeats count (both occurrences scrubbed —
    Lee et al. removal semantics), docs shorter than the anchor
    length pass through untouched, and a unique long doc is kept
    whole."""
    from real_time_data_analytics_cassandra_spark.operators.dedup import (
        exact_substr_scrub,
    )

    rep = _words("w", 16)
    mid = _words("mid", 4)
    uniq = _words("u", 40)
    short = "tiny doc"
    df = _docs(
        spark,
        [(1, f"{rep} {mid} {rep}"), (2, uniq), (3, short)],
    )
    got = {
        r["id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in exact_substr_scrub(
            df, "doc_id", "text", min_len=16
        ).collect()
    }
    assert got[1] == (36, 32, mid)
    assert got[2] == (40, 0, uniq)
    assert got[3] == (2, 0, short)


def _exact_substr_py(texts: dict, min_len: int = 16) -> dict:
    """Independent pure-Python ExactSubstr recompute (no Spark, no
    SQL): hash every min_len-token window, mark positions whose
    window repeats corpus-wide, drop covered tokens."""
    from collections import defaultdict

    toks = {d: t.split(" ") for d, t in texts.items() if len(t) > 0}
    occ: dict = defaultdict(list)
    for d, ts in toks.items():
        for p in range(len(ts) - min_len + 1):
            occ[" ".join(ts[p : p + min_len])].append((d, p))
    out = {}
    for d, ts in toks.items():
        covered = set()
        for p in range(len(ts) - min_len + 1):
            if len(occ[" ".join(ts[p : p + min_len])]) >= 2:
                covered.update(range(p, p + min_len))
        kept = [t for i, t in enumerate(ts) if i not in covered]
        out[d] = (len(ts), len(ts) - len(kept), " ".join(kept))
    return out


def test_exact_substr_matches_pure_python_at_smoke_sf(spark):
    """Whole-corpus recompute gate at the smoke SF: the Spark scrub
    must equal the brute-force pure-Python rederivation doc for doc
    (and the fixture must actually exercise removals)."""
    from real_time_data_analytics_cassandra_spark.operators.dedup import (
        exact_substr_scrub,
    )
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    want = _exact_substr_py(texts)
    got = {
        r["id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in exact_substr_scrub(
            docs, "doc_id", "text", min_len=16
        ).collect()
    }
    assert got == want
    assert any(v[1] > 0 for v in want.values()), (
        "fixture must exercise the removal path"
    )


def test_exact_substr_keep_first_pins_first_occurrence(spark):
    """Keep-first semantics by hand: the lowest-(id, position)
    occurrence of the repeated span keeps its tokens; the later doc
    (and a later within-doc repeat) is scrubbed."""
    from real_time_data_analytics_cassandra_spark.operators.dedup import (
        exact_substr_keep_first,
    )

    rep = _words("rep", 20)
    a_tail = _words("atail", 5)
    b_head = _words("bhead", 3)
    df = _docs(spark, [(1, f"{rep} {a_tail}"), (2, f"{b_head} {rep}")])
    got = {
        r["id"]: (r["n_removed"], r["clean_text"])
        for r in exact_substr_keep_first(
            df, "doc_id", "text", min_len=16
        ).collect()
    }
    assert got[1] == (0, f"{rep} {a_tail}")  # first occurrence pinned
    assert got[2] == (20, b_head)


def test_exact_substr_index_incremental_equals_batch(spark, tmp_path):
    """Id-ordered incremental arrival through the persisted anchor
    index must equal the one-shot keep-first operator doc for doc —
    including a repeat whose occurrences land in DIFFERENT batches at
    different alignments (the straddling case the whole family
    exists for)."""
    from real_time_data_analytics_cassandra_spark.operators.dedup import (
        exact_substr_index_batch,
        exact_substr_keep_first,
    )

    rep = _words("rep", 25)
    rows = [
        (1, f"{rep} {_words('a', 6)}"),
        (2, _words("b", 20)),
        (3, f"{_words('c', 3)} {rep}"),  # same repeat, offset 3
        (4, _words("b", 20)),  # exact dup of doc 2 across batches
        (5, _words("e", 10)),
    ]
    df = _docs(spark, rows)
    expect = {
        r["id"]: tuple(r)
        for r in exact_substr_keep_first(
            df, "doc_id", "text", min_len=16
        ).collect()
    }
    # the index path is storage-agnostic: a file:// URI folds the same
    for idx in (str(tmp_path / "xsub_idx"), (tmp_path / "xsub_uri").as_uri()):
        got = {}
        for b, lo, hi in ((0, 1, 2), (1, 3, 4), (2, 5, 5)):
            part = df.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
            )
            out = exact_substr_index_batch(
                spark, part, idx, "doc_id", "text", 16, batch_id=b
            )
            for r in out.collect():
                got[r["id"]] = tuple(r)
        assert got == expect, idx
        by_id = {t[0]: t for t in got.values()}
        assert by_id[3][2] == 25, "cross-batch repeat must be scrubbed"
        assert by_id[4][2] == 20, "cross-batch exact dup must be scrubbed"


def test_exact_substr_index_replay_is_idempotent(spark, tmp_path):
    """A foreachBatch redelivery of a completed batch must produce
    the same verdicts and leave the index bit-identical."""
    from real_time_data_analytics_cassandra_spark.operators.dedup import (
        exact_substr_index_batch,
    )

    rep = _words("rep", 20)
    idx = str(tmp_path / "xsub_idx_replay")
    b0 = _docs(spark, [(1, f"{rep} {_words('a', 4)}")])
    b1 = _docs(spark, [(2, f"{_words('b', 2)} {rep}")])
    exact_substr_index_batch(spark, b0, idx, "doc_id", "text", 16, batch_id=0)
    first = sorted(
        map(
            tuple,
            exact_substr_index_batch(
                spark, b1, idx, "doc_id", "text", 16, batch_id=1
            ).collect(),
        )
    )
    index_after = sorted(
        map(tuple, spark.read.parquet(idx).drop("bucket").collect())
    )
    replay = sorted(
        map(
            tuple,
            exact_substr_index_batch(
                spark, b1, idx, "doc_id", "text", 16, batch_id=1
            ).collect(),
        )
    )
    index_replay = sorted(
        map(tuple, spark.read.parquet(idx).drop("bucket").collect())
    )
    assert replay == first
    assert index_replay == index_after
    assert first[0][2] == 20, "doc 2 must lose the batch-0-owned repeat"
