"""Deduplication operators for large text corpora.

The reference has no dedup (its upsert table is key-dedup only,
SURVEY.md §2.4 A5); these are the training-data-pipeline extensions
(BASELINE.json north star).  Everything is partition-parallel pure
column expressions + joins — no Python in the hot path, no driver
collects — so the same plans run over 100 TB corpora:

- exact:      hash-groupBy on md5(text)            (1 shuffle)
- normalized: md5 of canonicalized text            (1 shuffle)
- n-gram Jaccard: all-pairs via shared-shingle equi-join — exact but
  O(pairs-sharing-a-shingle); use as verifier, not the scale path
- MinHash + LSH: signature -> banded bucketing -> candidate pairs ->
  exact-Jaccard verify.  The scale path: candidate generation touches
  only band-bucket collisions, never all pairs.

Determinism: all hashing is md5-prefix of the shingle/token text with
fixed odd multipliers for the permutations — stable across runs,
sessions, cluster sizes AND engines (every family here is SQL-oracle
reproducible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_data_analytics_cassandra_spark.functions.textfns import (
    norm_text,
    tokens,
    word_ngrams,
)
from real_time_data_analytics_cassandra_spark.sinks.merge import (
    _overwrite_partitions,
    _pruned_target,
    _target_exists,
)

# Mersenne-ish prime > 2^32 for the universal-hash permutations.
_MINHASH_P = 4294967311


def exact_duplicate_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical texts: (text_hash, canonical id = min, dup_count)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def normalized_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Near-exact dedup key: md5 of (lowercased, space-collapsed) text."""
    return df.select(
        F.col(id_col),
        F.md5(norm_text(F.col(text_col))).alias("fingerprint"),
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word-n-gram shingles per document: (id, shingle)."""
    return (
        df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks"))
        .select("id", F.explode(F.array_distinct(word_ngrams("toks", n))).alias("shingle"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for every document pair
    sharing at least one shingle; keeps pairs with sim >= threshold.

    The shared-shingle equi-join bounds the pair space to colliding
    docs (vs a full cross join); for web-scale corpora prefer
    ``minhash_lsh_pairs`` which bounds it further via banding.
    """
    sh = shingle_sets(df, id_col, text_col, n).localCheckpoint(eager=False)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n_shingles": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_shingles": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "jaccard")
    )
    return out


def _permute(h, i: int):
    """Universal hash family: ((a_i * h + b_i) mod P); a_i odd."""
    a = 2 * i + 1
    b = (i * 2654435761 + 1013904223) % _MINHASH_P
    return (h * F.lit(a) + F.lit(b)) % F.lit(_MINHASH_P)


def _band_pairs(
    banded: DataFrame, id_col: str, a: str = "id_a", b: str = "id_b"
) -> DataFrame:
    """Candidate generation of every banded near-dup operator (MinHash,
    SimHash, SRP, 64-bit media signatures): ``banded`` holds one
    (``id_col``, band, band_key) row per band of each item; two items
    sharing any (band, band_key) become one distinct (``a`` < ``b``)
    pair.  The quadratic surface is sum(bucket^2) per band, never all
    pairs; each caller verifies the candidates its own way."""
    left = banded.select(F.col(id_col).alias(a), "band", "band_key")
    right = banded.select(F.col(id_col).alias(b), "band", "band_key")
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col(a) < F.col(b))
        .select(a, b)
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH candidate generation, exact-Jaccard verification.

    Signature of ``num_hashes`` minhashes split into ``bands`` bands of
    r = num_hashes/bands rows; docs colliding on any full band become
    candidate pairs (standard S-curve: P[collide] = 1-(1-s^r)^b).
    Candidates are then *verified* with exact Jaccard so the output has
    no false positives — identical contract to ``ngram_jaccard_pairs``
    restricted to LSH-reachable pairs.
    """
    from real_time_data_analytics_cassandra_spark.catalog import spread

    assert num_hashes % bands == 0
    r = num_hashes // bands
    # ONE tokenize+shingle pass feeds BOTH the signature aggregate and
    # the exact-Jaccard verification (guide §1.2 "don't compute things
    # you throw away": the previous shape ran shingle_sets twice — a
    # second full corpus scan + regex split + explode — purely to
    # re-derive the identical (id, shingle) relation for the verify
    # joins).  The lazily checkpointed relation materializes during the
    # signature aggregate and the verify side reads it back; at 100 TB
    # its blocks spill to local disk (MEMORY_AND_DISK), which is still
    # strictly cheaper than re-reading and re-shingling the corpus.
    sh = shingle_sets(spread(df), id_col, text_col, n).localCheckpoint(eager=False)
    hashed = sh.withColumn(
        "h",
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast(
            "long"
        ),
    )
    aggs = [
        F.min(_permute(F.col("h"), i)).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    sig = hashed.groupBy("id").agg(*aggs)
    # all band keys in ONE pass over the signatures (posexplode of an
    # array of per-band digests) — a per-band union would rescan and
    # re-aggregate the shingles `bands` times
    band_keys = [
        F.md5(
            F.concat_ws(
                ",", *[F.col(f"mh_{bi * r + j}").cast("string") for j in range(r)]
            )
        )
        for bi in range(bands)
    ]
    cand = _band_pairs(
        sig.select(
            "id", F.posexplode(F.array(*band_keys)).alias("band", "band_key")
        ),
        "id",
    )
    # verify candidates with exact Jaccard over the SAME checkpointed
    # shingle relation (intersection join + per-doc sizes)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    inter = (
        sh.select(F.col("id").alias("id_a"), "shingle")
        .join(cand, "id_a")
        .join(sh.select(F.col("id").alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n_shingles": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_shingles": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_bits(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
) -> DataFrame:
    """SimHash signature per document as array<int> of ``bits`` 0/1s.

    Token hash = the md5 60-bit prefix (15 hex chars — the same
    ENGINE-PORTABLE base every sketch here uses; xxhash64 previously
    forced this family to a rows-only driver check, md5 gives it a
    full SQL oracle).  Bit j of the signature is the sign of the
    (count-weighted) sum of (2*bit_j(h) - 1) over tokens.  Computed
    as ``bits`` conditional-sum aggregates in a single groupBy — one
    shuffle, map-side combined.  ``bits`` <= 60 (one digest).
    """
    from real_time_data_analytics_cassandra_spark.catalog import spread

    assert bits <= 60, "one md5 digest carries 60 usable bits"
    tok = (
        spread(df).select(
            F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
        )
        .withColumn(
            "h",
            F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast(
                "long"
            ),
        )
    )
    aggs = [
        F.sum(
            (F.shiftrightunsigned(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"s_{j}")
        for j in range(bits)
    ]
    summed = tok.groupBy("id").agg(*aggs)
    bit_cols = [(F.col(f"s_{j}") > 0).cast("int") for j in range(bits)]
    return summed.select("id", F.array(*bit_cols).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    chunks: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs with Hamming distance <= max_hamming.

    Pigeonhole: distance <= chunks-1 implies at least one of ``chunks``
    equal signature chunks, so candidate pairs come from grouping on
    chunk values (no all-pairs scan), then exact Hamming verifies.
    """
    assert bits % chunks == 0
    w = bits // chunks
    sig = simhash_bits(df, id_col, text_col, bits).localCheckpoint(eager=False)
    # all chunk keys in one pass (see minhash_lsh_pairs)
    chunk_keys = [
        F.concat_ws(
            "",
            *[F.element_at("simhash", ci * w + j + 1).cast("string") for j in range(w)],
        )
        for ci in range(chunks)
    ]
    cand = _band_pairs(
        sig.select(
            "id", F.posexplode(F.array(*chunk_keys)).alias("band", "band_key")
        ),
        "id",
    )
    verified = (
        cand.join(sig.select(F.col("id").alias("id_a"), F.col("simhash").alias("sig_a")), "id_a")
        .join(sig.select(F.col("id").alias("id_b"), F.col("simhash").alias("sig_b")), "id_b")
        .withColumn(
            "hamming",
            F.expr("aggregate(zip_with(sig_a, sig_b, (x, y) -> CASE WHEN x = y THEN 0 ELSE 1 END), 0, (acc, v) -> acc + v)"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return verified


def segment_scrub(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_len: int = 8,
    max_docs: int = 1,
) -> DataFrame:
    """Cross-document boilerplate REMOVAL (ExactSubstr-lite, after
    Lee et al. "Deduplicating Training Data Makes Language Models
    Better", reduced to fixed token granularity so it is exact,
    deterministic and oracle-checkable): split every document into
    non-overlapping ``seg_len``-token segments, count in how many
    DISTINCT documents each segment occurs corpus-wide, and rebuild
    each document from only the segments seen in <= ``max_docs``
    documents.  Unlike cross_doc_repetition (a diagnostic share),
    this emits the scrubbed document itself.

    Output: (id, n_segments, n_removed, clean_text) — one row per
    document with >= 1 token; clean_text is '' when everything was
    boilerplate.  Segment order is preserved.

    Scale shape: segment explosion is map-side; the corpus-wide
    distinct-doc count is one hash aggregate keyed on md5(segment)
    (16-byte keys, partial aggregation applies); the verdict join
    back to per-doc segments is a second shuffle on the same compact
    key.  Reconstruction is a per-doc aggregate (array_sort over
    (seg_idx, seg) structs — no global sort).  No UDFs, no driver
    collects: the same plan runs at 100 TB, where the counts table
    is itself corpus-scale and AQE picks the join strategy.
    """
    base = df.filter(F.length(text_col) > 0).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    )
    segs = base.select(
        "id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.size("toks") - 1) / seg_len).cast("int"),
            )
        ).alias("seg_idx"),
        F.col("toks"),
    ).select(
        "id",
        "seg_idx",
        F.concat_ws(
            " ", F.slice("toks", F.col("seg_idx") * seg_len + 1, seg_len)
        ).alias("seg"),
    ).withColumn("seg_hash", F.md5("seg"))
    counts = segs.groupBy("seg_hash").agg(
        F.countDistinct("id").alias("n_docs")
    )
    flagged = segs.join(counts, "seg_hash")
    kept_struct = F.when(
        F.col("n_docs") <= max_docs, F.struct("seg_idx", "seg")
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("n_docs") > max_docs).cast("long")).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["seg"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select("id", "n_segments", "n_removed", "clean_text")
    )


def exact_substr_scrub(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 16,
) -> DataFrame:
    """TRUE ExactSubstr dedup (Lee et al. "Deduplicating Training
    Data Makes Language Models Better" §4.1, the suffix-array
    recipe): remove every token that lies inside ANY substring of
    >= ``min_len`` tokens occurring more than once corpus-wide —
    at any alignment, across or within documents.

    Closes the gap :func:`segment_scrub` (ExactSubstr-LITE) leaves
    open: the lite form buckets text into FIXED non-overlapping
    ``seg_len``-token segments, so a long repeat whose two
    occurrences sit at different offsets mod seg_len shares no
    segment and slides through uncaught (the r11 verdict's
    boundary-straddling case).  This form anchors EVERY token
    position:

    - each position p emits the md5 of its ``min_len``-token window
      (the suffix-array observation: a duplicated substring of
      length >= L exists iff two positions share an L-token prefix —
      sorting suffixes groups them; hashing the L-token anchor
      groups them with one hash aggregate instead of a global sort,
      and the bounded window IS the bounded extend-while-equal:
      longer repeats are covered as unions of overlapping L-anchors);
    - an anchor occurring >= 2 times marks positions [p, p+L) in
      every occurrence as duplicated;
    - a token survives iff no duplicated anchor covers it; the doc
      rebuilds from surviving tokens in order.

    Exactly Lee et al.'s removal semantics (their tool drops every
    occurrence of duplicated spans; a keep-first variant would pin
    ties the way :func:`keep_first_segment_dedup` does).

    Output: (id, n_tokens, n_removed, clean_text) — one row per
    document with >= 1 token.

    Scale shape: the window explode is map-side (one row per token
    position — the same O(corpus tokens) row count every shingle
    operator here carries); ONE count aggregate on 16-byte md5 keys
    (partial aggregation applies), one equi-join back on the same
    compact key, one per-doc reconstruction aggregate, one join of
    the bounded dup-position table back to the docs.  The coverage
    filter is per-row array math bounded by document length
    (positions x dup-anchors worst case; production swaps in a
    merged-interval sweep when documents are huge).  No UDFs, no
    driver collects; the shuffle count is fixed regardless of
    corpus size (pinned in tests/test_plan_budget.py).
    """
    base = _token_rows(df, id_col, text_col)
    wins = _anchor_rows(base, min_len)
    dup = (
        wins.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("wh")
    )
    dup_pos = (
        wins.join(dup, "wh")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("p")).alias("dups"))
    )
    return _scrub_covered(base, dup_pos, min_len)


def _token_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, toks) for every document with >= 1 token."""
    return df.filter(F.length(text_col) > 0).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    )


def _anchor_rows(base: DataFrame, min_len: int) -> DataFrame:
    """One row per token position: (id, p, wh) where wh is the md5 of
    the ``min_len``-token window starting at p — the shared anchor
    construction of the ExactSubstr family (batch, keep-first, and
    incremental forms must cut identical anchors).  The window
    transform runs map-side over the positions sequence; posexplode
    yields the position index for free."""
    n = F.size("toks")
    return base.filter(n >= min_len).select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n - min_len),
                lambda p: F.md5(
                    F.concat_ws(
                        " ", F.slice("toks", p + F.lit(1), min_len)
                    )
                ),
            )
        ).alias("p", "wh"),
    )


def _scrub_covered(
    base: DataFrame, dup_pos: DataFrame, min_len: int
) -> DataFrame:
    """Rebuild each document keeping only tokens not covered by any
    duplicated anchor: ``dup_pos`` is (id, dups = sorted positions);
    token i survives iff no p in dups has p <= i < p + min_len.
    Shared by every ExactSubstr form."""
    n = F.size("toks")
    covered = lambda i: F.exists(  # noqa: E731
        F.col("dups"), lambda p: (p <= i) & (i < p + min_len)
    )
    kept = F.when(
        F.col("dups").isNotNull(),
        F.filter("toks", lambda t, i: ~covered(i)),
    ).otherwise(F.col("toks"))
    return base.join(dup_pos, "id", "left").select(
        "id",
        n.cast("long").alias("n_tokens"),
        (n - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def exact_substr_keep_first(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 16,
) -> DataFrame:
    """Keep-FIRST ExactSubstr: like :func:`exact_substr_scrub` but the
    corpus-wide first occurrence of every duplicated anchor — lowest
    (id, position) — keeps its tokens; only LATER occurrences are
    scrubbed (the C4/keep_first_segment_dedup pinning rule applied to
    the anchored form).  This is the retraction-free semantics an
    incremental ingest can actually implement (an already-emitted
    document cannot be re-scrubbed when a later batch duplicates it),
    so it is the batch twin :func:`exact_substr_index_batch` is gated
    against.

    Output and scale shape identical to :func:`exact_substr_scrub`;
    the count aggregate becomes a min-struct aggregate (still
    partial-aggregatable on the 16-byte key)."""
    base = _token_rows(df, id_col, text_col)
    wins = _anchor_rows(base, min_len)
    firsts = wins.groupBy("wh").agg(
        F.min(F.struct("id", "p")).alias("first")
    )
    dup_pos = (
        wins.join(firsts, "wh")
        .filter(
            (F.col("id") != F.col("first.id"))
            | (F.col("p") != F.col("first.p"))
        )
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("p")).alias("dups"))
    )
    return _scrub_covered(base, dup_pos, min_len)


def exact_substr_index_batch(
    spark,
    batch_docs: DataFrame,
    index_path: str,
    id_col: str,
    text_col: str,
    min_len: int = 16,
    batch_id: int = 0,
    n_buckets: int = 32,
) -> DataFrame:
    """ONE incremental step of keep-first ExactSubstr against a
    PERSISTED anchor-ownership index — the continuously-ingesting
    form of :func:`exact_substr_keep_first`, run with the same
    machinery as :func:`span_index_dedup_batch`: a batch's token
    positions are scrubbed if their anchor is owned by ANY earlier
    batch (or an earlier (id, p) within this batch), and the index
    extends with the anchors this batch saw first.  When batches
    arrive in id order the concatenated outputs equal the one-shot
    keep-first operator exactly (anchors never straddle documents,
    and min-(id, p) ownership over id-ordered batches is the global
    min) — tested; under arbitrary arrival the rule is
    first-ARRIVAL-wins, the only causally implementable rule.

    Index layout and replay discipline are span_index_dedup_batch's
    verbatim: parquet partitioned by md5-derived bucket, rows
    (wh, first_id, first_p, _applied_batch_id); a batch reads ONLY
    the buckets its own anchors hash into; rows stamped with THIS
    batch id are ignored when deciding ownership and rewritten
    identically, so a foreachBatch redelivery is bit-stable.

    Scale shape: per batch — map-side anchor transform, one
    min-struct aggregate over the BATCH's hashes, a bucket-pruned
    index read + one equi-join on the 16-byte hash, a dynamic
    overwrite of touched buckets, and the shared coverage rebuild.
    O(batch + touched index slice), never O(corpus)."""
    base = _token_rows(batch_docs, id_col, text_col)
    wins = _anchor_rows(base, min_len)
    # EAGER checkpoint: see _first_owner_fold
    batch_first = (
        wins.groupBy("wh")
        .agg(F.min(F.struct(F.col("id"), F.col("p"))).alias("first"))
        .select(
            "wh",
            F.col("first.id").alias("first_id"),
            F.col("first.p").alias("first_p"),
        )
        .withColumn(
            "bucket",
            F.pmod(
                F.conv(F.substring("wh", 1, 4), 16, 10).cast("int"),
                F.lit(n_buckets),
            ),
        )
        .withColumn(SPAN_INDEX_BATCH_COL, F.lit(batch_id).cast("long"))
        .localCheckpoint(eager=True)
    )

    winners_new = _first_owner_fold(
        spark, batch_first, index_path, "wh", batch_id
    )

    # a position survives iff its anchor is NEWLY owned by this batch
    # AND it is the batch-first occurrence; every other occurrence is
    # a duplicated anchor and covers its window
    flagged = wins.join(
        winners_new.select("wh", "first_id", "first_p"), "wh", "left"
    )
    is_first = (
        F.col("first_id").isNotNull()
        & (F.col("id") == F.col("first_id"))
        & (F.col("p") == F.col("first_p"))
    )
    dup_pos = (
        flagged.filter(~is_first)
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("p")).alias("dups"))
    )
    # lazy: see _first_owner_fold
    return _scrub_covered(base, dup_pos, min_len).localCheckpoint(eager=False)


def incremental_near_dups(
    new_docs: DataFrame,
    history: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental-ingestion dedup: every NEW-batch document checked
    for near-duplication against the EXISTING corpus — the shape a
    continuously-crawling pipeline runs on each snapshot, where
    re-deduplicating the full corpus per batch would be O(corpus)
    instead of O(batch).

    Shingle sets explode on both sides and equi-join on the shingle
    key, but the sides are asymmetric: the history side is the
    corpus-scale shingle INDEX (in production a persisted table,
    bucketed by shingle via sinks/layout.py, so ingesting a batch
    shuffles ONLY the batch's shingles — the index is read
    co-located); per (new, hist) candidate the exact Jaccard verifies
    and each new doc keeps its best match (jaccard desc, lowest
    hist id tie-break — a window over the batch-sized candidate set).

    Output: one row per new doc — (id, matched_id, best_jaccard,
    is_known); matched_id/best_jaccard NULL when the doc shares no
    shingle with history, is_known = best_jaccard >= threshold.
    """
    from pyspark.sql import Window

    # one shingle pass per side: each side feeds BOTH its size
    # aggregate and the intersection join; without a materialization
    # the explode ran twice per side (the history side is corpus-
    # scale).  Lazy local checkpoints, not caches, so the blocks are
    # freed with the result (see _first_owner_fold)
    sh_new = shingle_sets(new_docs, id_col, text_col, n).localCheckpoint(eager=False)
    sh_hist = shingle_sets(history, id_col, text_col, n).localCheckpoint(eager=False)
    size_new = sh_new.groupBy("id").agg(F.count(F.lit(1)).alias("n_new"))
    size_hist = sh_hist.groupBy("id").agg(F.count(F.lit(1)).alias("n_hist"))
    inter = (
        sh_new.select(F.col("id").alias("new_id"), "shingle")
        .join(
            sh_hist.select(F.col("id").alias("hist_id"), "shingle"),
            "shingle",
        )
        .groupBy("new_id", "hist_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    scored = (
        inter.join(size_new.withColumnRenamed("id", "new_id"), "new_id")
        .join(size_hist.withColumnRenamed("id", "hist_id"), "hist_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_new") + F.col("n_hist") - F.col("n_inter")),
                6,
            ),
        )
    )
    w = Window.partitionBy("new_id").orderBy(
        F.desc("jaccard"), F.asc("hist_id")
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("new_id", "hist_id", "jaccard")
    )
    return (
        new_docs.select(F.col(id_col).alias("id"))
        .join(best, F.col("id") == F.col("new_id"), "left")
        .select(
            "id",
            F.col("hist_id").alias("matched_id"),
            F.col("jaccard").alias("best_jaccard"),
            F.coalesce(
                F.col("jaccard") >= threshold, F.lit(False)
            ).alias("is_known"),
        )
    )


def _segment_rows(
    df: DataFrame, id_col: str, text_col: str, seg_len: int
) -> DataFrame:
    """Shared map-side segment explode: (id, seg_idx, seg, seg_hash)
    rows of non-overlapping ``seg_len``-token segments, md5-keyed —
    the common front half of segment_scrub, keep_first_segment_dedup,
    and the incremental span_index_dedup_batch."""
    base = df.filter(F.length(text_col) > 0).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    )
    return (
        base.select(
            "id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size("toks") - 1) / seg_len).cast("int"),
                )
            ).alias("seg_idx"),
            F.col("toks"),
        )
        .select(
            "id",
            "seg_idx",
            F.concat_ws(
                " ", F.slice("toks", F.col("seg_idx") * seg_len + 1, seg_len)
            ).alias("seg"),
        )
        .withColumn("seg_hash", F.md5("seg"))
    )


def keep_first_segment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_len: int = 8,
) -> DataFrame:
    """Keep-FIRST span dedup (C4-style, after Raffel et al. "Exploring
    the Limits of Transfer Learning…" §2.2, which drops all but one
    occurrence of every repeated three-sentence span; here at fixed
    ``seg_len``-token granularity so the rule is exact, deterministic
    and oracle-checkable): every distinct segment survives in exactly
    ONE document — the lexicographically-first (id, seg_idx)
    occurrence corpus-wide — and is scrubbed from every later one.

    Contrast with ``segment_scrub`` (max_docs=1), which removes ALL
    occurrences of a cross-document segment including the first; that
    is boilerplate removal, this is duplication removal — total
    corpus-wide information is preserved exactly once.

    Output: (id, n_segments, n_removed, clean_text) — one row per
    document with >= 1 token, segment order preserved, clean_text ''
    when every segment first appeared elsewhere.

    Scale shape: map-side segment explode; ONE hash aggregate on the
    16-byte md5 key computing min(struct(id, seg_idx)) — an
    associative partial-aggregatable min, so map-side combine applies
    corpus-wide; one equi-join back on the same compact key (AQE
    picks the strategy); per-doc reconstruction aggregate (array_sort
    over (seg_idx, seg) structs — no global sort).  No UDFs, no
    driver collects; two shuffles total regardless of corpus size.
    """
    segs = _segment_rows(df, id_col, text_col, seg_len)
    firsts = segs.groupBy("seg_hash").agg(
        F.min(F.struct("id", "seg_idx")).alias("first")
    )
    flagged = segs.join(firsts, "seg_hash")
    is_first = (F.col("id") == F.col("first.id")) & (
        F.col("seg_idx") == F.col("first.seg_idx")
    )
    kept_struct = F.when(is_first, F.struct("seg_idx", "seg"))
    return (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((~is_first).cast("long")).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["seg"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select("id", "n_segments", "n_removed", "clean_text")
    )


SPAN_INDEX_BATCH_COL = "_applied_batch_id"


def _first_owner_fold(
    spark,
    batch_first: DataFrame,
    index_path: str,
    key: str,
    batch_id: int,
) -> DataFrame:
    """Extend the persisted first-owner index at ``index_path`` (rows
    keyed on ``key``, partitioned by ``bucket``, stamped with
    SPAN_INDEX_BATCH_COL) with this batch's rows and return the ones
    the batch owns first (``winners_new``): those whose key no EARLIER
    batch owns.  Rows stamped with this ``batch_id`` are this batch's
    own earlier write, so a replay re-derives the same winners and
    rewrites the same rows.  The shared step of
    :func:`span_index_dedup_batch` and :func:`exact_substr_index_batch`.

    Eagerness (r13, measured): the caller's ``batch_first`` is an
    EAGER checkpoint — the fold's one expensive pass (explode, hash,
    min-struct aggregate) materializes exactly once, and both the
    bucket probe and the winner anti-join read that leaf (r12 ran the
    pass twice per fold).  ``winners_new`` is a LAZY checkpoint: the
    write-back's eager checkpoint of the union computes it, which
    materializes it as a persisted leaf BEFORE the index overwrite —
    so the caller's verdict never reads ``index_path``, without a
    dedicated job barrier per fold.  The verdict itself is a LAZY
    checkpoint for the same reason: its lineage reads only the batch
    and the materialized winners, so the overwrite cannot invalidate
    it, and callers unioning several folds get a cut plan for free.

    One file per touched bucket: without the repartition every shuffle
    task writes a sliver into every touched bucket dir — O(tasks x
    buckets) small files per batch, the classic dynamic-overwrite
    file explosion."""
    if not _target_exists(spark, f"{index_path}/_SUCCESS"):
        batch_first.repartition("bucket").write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(index_path)
        return batch_first
    earlier = _pruned_target(spark, index_path, batch_first, "bucket").filter(
        F.col(SPAN_INDEX_BATCH_COL) < batch_id
    )
    winners_new = batch_first.join(
        earlier.select(key), key, "left_anti"
    ).localCheckpoint(eager=False)
    _overwrite_partitions(
        earlier.unionByName(winners_new).repartition("bucket"),
        index_path,
        "bucket",
    )
    return winners_new


def span_index_dedup_batch(
    spark,
    batch_docs: DataFrame,
    index_path: str,
    id_col: str,
    text_col: str,
    seg_len: int = 8,
    batch_id: int = 0,
    n_buckets: int = 32,
) -> DataFrame:
    """ONE incremental step of arrival-first span dedup against a
    PERSISTED first-occurrence index — the continuously-ingesting form
    of :func:`keep_first_segment_dedup`: a batch's segments are
    scrubbed if ANY earlier batch (or an earlier (id, seg_idx) within
    this batch) already owns the segment, and the index is extended
    with the segments this batch saw first.  When batches arrive in
    id order the concatenated outputs equal the one-shot batch
    operator exactly (tested); under arbitrary arrival the rule is
    first-ARRIVAL-wins — the only causally implementable rule, since
    emitted documents cannot be retracted.

    Index layout: parquet partitioned by ``bucket`` (md5-derived,
    ``n_buckets`` dirs — 32 by default; size it to the filesystem''s
    appetite for directories: each batch write touches every bucket
    dir it updates, so more buckets buy finer pruned reads at the
    cost of more commit operations per batch), rows (seg_hash,
    first_id, first_seg_idx, _applied_batch_id).  A batch reads ONLY
    the buckets its own segments hash into (same pruned-read shape
    as sinks/merge.py) and dynamically overwrites only those
    buckets, one file per touched bucket.

    Replay-safe: index rows carry the writing batch id; on a replay
    of batch b, rows stamped b are ignored when deciding ownership
    (they ARE this batch's own earlier write) and are rewritten
    identically, so verdicts and index state are bit-stable under
    foreachBatch's at-least-once redelivery.

    Scale shape: per batch — map-side segment explode, one min-struct
    aggregate over the BATCH's hashes, a bucket-pruned index read +
    one equi-join on the 16-byte hash, a dynamic overwrite of touched
    buckets, and the per-doc reconstruction aggregate.  Work is
    O(batch + touched index slice), never O(corpus): the re-dedup
    economics of incremental_near_dups, applied to exact span dedup.
    """
    segs = _segment_rows(batch_docs, id_col, text_col, seg_len)
    # EAGER checkpoint: see _first_owner_fold
    batch_first = segs.groupBy("seg_hash").agg(
        F.min(F.struct(F.col("id"), F.col("seg_idx"))).alias("first")
    ).select(
        "seg_hash",
        F.col("first.id").alias("first_id"),
        F.col("first.seg_idx").alias("first_seg_idx"),
    ).withColumn(
        "bucket",
        F.pmod(
            F.conv(F.substring("seg_hash", 1, 4), 16, 10).cast("int"),
            F.lit(n_buckets),
        ),
    ).withColumn(
        SPAN_INDEX_BATCH_COL, F.lit(batch_id).cast("long")
    ).localCheckpoint(eager=True)

    winners_new = _first_owner_fold(
        spark, batch_first, index_path, "seg_hash", batch_id
    )

    # verdict: a segment survives iff its hash is NEWLY owned by this
    # batch AND this occurrence is the batch-first one
    flagged = segs.join(
        winners_new.select("seg_hash", "first_id", "first_seg_idx"),
        "seg_hash",
        "left",
    )
    is_first = (
        F.col("first_id").isNotNull()
        & (F.col("id") == F.col("first_id"))
        & (F.col("seg_idx") == F.col("first_seg_idx"))
    )
    kept_struct = F.when(is_first, F.struct("seg_idx", "seg"))
    out = (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((~is_first).cast("long")).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["seg"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select("id", "n_segments", "n_removed", "clean_text")
    )
    # lazy: see _first_owner_fold
    return out.localCheckpoint(eager=False)


# Float slack for the PPJoin bounds: every bound below is of the form
# "integer quantity >= threshold * integer quantity" where the RHS is
# computed in doubles.  A double product can land one ulp ABOVE the
# true rational value (e.g. 0.1 * 30 = 3.0000000000000004), which
# would prune a candidate whose Jaccard equals the threshold exactly.
# Subtracting this slack keeps every filter safe-not-tight: at worst a
# handful of extra candidates reach verification, never a lost pair.
_PPJOIN_EPS = 1e-9


def _ppjoin_candidates(
    sh: DataFrame,
    threshold: float,
    positional: bool = True,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs for exact set-similarity join via
    the PPJoin(+) prefix/length/positional filters over a shingle
    relation (columns id, shingle).  Lossless for Jaccard >=
    ``threshold``; ``positional=False`` keeps only the prefix+length
    rules (exists for the candidate-volume regression test)."""
    return _ppjoin_candidates_ranked(
        _ranked_shingle_sets(sh).localCheckpoint(eager=False), threshold, positional
    )


def _ppjoin_candidates_ranked(
    ranked: DataFrame,
    threshold: float,
    positional: bool = True,
) -> DataFrame:
    """PPJoin(+) candidate generation over ``_ranked_shingle_sets``
    output: the per-doc array is already in the shared rarest-first
    order, so the prefix is an array SLICE and the positional rank a
    ``posexplode`` index — no ranking window, no frequency re-join,
    and both join sides derive from the one (cacheable) relation."""
    t = float(threshold)
    # prefix length |s| - ceil(t|s|) + 1; the eps makes ceil round the
    # TRUE rational bound, never one higher (longer prefix = safe)
    prefix_len = (
        F.col("n_sh")
        - F.ceil(F.lit(t) * F.col("n_sh") - F.lit(_PPJOIN_EPS))
        + 1
    ).cast("int")
    prefix = ranked.select(
        "id",
        F.col("n_sh"),
        F.posexplode(F.slice("sh_ord", F.lit(1), prefix_len)).alias(
            "pos", "shingle"
        ),
    ).select("id", (F.col("pos") + 1).alias("rk"), "n_sh", "shingle")
    pa = prefix.select(
        F.col("id").alias("id_a"),
        "shingle",
        F.col("rk").alias("rk_a"),
        F.col("n_sh").alias("n_a_"),
    )
    pb = prefix.select(
        F.col("id").alias("id_b"),
        "shingle",
        F.col("rk").alias("rk_b"),
        F.col("n_sh").alias("n_b_"),
    )
    coll = pa.join(pb, "shingle").filter(F.col("id_a") < F.col("id_b"))
    # positional overlap upper bound from a collision at ranks (i, j)
    # of the SAME global order: common tokens before it <= min(i-1,
    # j-1), after it <= min(|a|-i, |b|-j) — true for EVERY common
    # token, so the pair bound is the MIN over its collisions
    ub = (
        F.least(F.col("rk_a") - 1, F.col("rk_b") - 1)
        + 1
        + F.least(
            F.col("n_a_") - F.col("rk_a"), F.col("n_b_") - F.col("rk_b")
        )
    )
    grouped = coll.groupBy("id_a", "id_b", "n_a_", "n_b_").agg(
        F.min(ub).alias("ub_")
    )
    # length filter: J >= t forces t <= |a|/|b| <= 1/t (direct float
    # compare with slack — never a float ceil, see _PPJOIN_EPS)
    cand = grouped.filter(
        (
            F.col("n_b_").cast("double")
            >= F.lit(t) * F.col("n_a_") - F.lit(_PPJOIN_EPS)
        )
        & (
            F.col("n_a_").cast("double")
            >= F.lit(t) * F.col("n_b_") - F.lit(_PPJOIN_EPS)
        )
    )
    if positional:
        # PPJoin+ positional filter: J >= t  <=>  (1+t)*overlap >=
        # t*(|a|+|b|), so a pair whose best overlap bound can't reach
        # that never enters verification
        cand = cand.filter(
            F.col("ub_").cast("double") * F.lit(1.0 + t)
            >= F.lit(t) * (F.col("n_a_") + F.col("n_b_")) - F.lit(_PPJOIN_EPS)
        )
    return cand.select("id_a", "id_b")


def ngram_jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX + POSITIONAL FILTERING
    (the SSJoin/PPJoin+ candidate rules, Chaudhuri et al. 2006 / Xiao
    et al. 2008): identical output contract to ``ngram_jaccard_pairs``
    — and it SHARES that query's DuckDB oracle — but candidate pairs
    come only from collisions on each document's PREFIX shingles
    under a rarest-first global order, instead of on every shingle.

    Why it is safe: J(s,r) >= t implies |s ∩ r| >= ceil(t*|s|) on
    both sides (|r| >= t|s| follows from J >= t), and two sets
    overlapping in >= alpha elements must intersect within their
    (size - alpha + 1)-prefixes of ANY shared total order — so
    joining on prefix shingles of length |s| - ceil(t|s|) + 1 loses
    no qualifying pair.  On top of that, each collision's ranks give
    an overlap UPPER bound (see _ppjoin_candidates); pairs whose best
    bound cannot reach the (1+t)-form overlap requirement are pruned
    before the verification join pays for them — strictly fewer
    candidates than the prefix rule alone (asserted by
    tests/test_crossval.py::test_ppjoin_positional_prunes_candidates).
    Why it scales: the global order is rarest-first (document
    frequency asc), so the joined prefix tokens are the LOW-frequency
    shingles — the stop-shingle hot buckets that blow up the naive
    shared-shingle join never enter candidate generation.
    Verification computes the full exact Jaccard for candidates only,
    as ONE array_intersect per candidate row (two joins against the
    per-doc shingle-array relation) instead of re-exploding every
    candidate's shingles through a shuffle — candidate-count rows in
    flight, not candidate-count x shingles.
    """
    sh = shingle_sets(df, id_col, text_col, n)
    ranked = _ranked_shingle_sets(sh).localCheckpoint(eager=False)
    cand = _ppjoin_candidates_ranked(ranked, threshold)
    return (
        cand.join(
            ranked.select(
                F.col("id").alias("id_a"), F.col("sh_ord").alias("set_a")
            ),
            "id_a",
        )
        .join(
            ranked.select(
                F.col("id").alias("id_b"), F.col("sh_ord").alias("set_b")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("set_a", "set_b"))
            .cast("long")
            .alias("n_inter"),
            (F.size("set_a") + F.size("set_b")).alias("n_union_plus"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_union_plus") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram CONTAINMENT (Broder's asymmetric Jaccard) for
    every document pair sharing a shingle: ``|A∩B| / |A|`` and
    ``|A∩B| / |B|`` per unordered pair, kept when either direction
    clears the threshold.

    Containment catches what symmetric Jaccard structurally cannot: a
    short document quoted or wrapped inside a much longer one has
    near-1.0 containment but tiny Jaccard (the union is dominated by
    the long side), and at corpus scale that is exactly the
    boilerplate-wrapper / quoted-reply duplication family.  Same
    shared-shingle equi-join shape as ngram_jaccard_pairs (pair space
    bounded by colliding docs, never a cross join; the LSH family is
    the further-bounded scale path), same integral inputs -> one
    double division each, 6dp."""
    sh = shingle_sets(df, id_col, text_col, n)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.withColumnsRenamed({"id": "id_a", "n_shingles": "n_a"}),
            "id_a",
        )
        .join(
            sizes.withColumnsRenamed({"id": "id_b", "n_shingles": "n_b"}),
            "id_b",
        )
        .withColumn(
            "cont_a_in_b",
            F.round(F.col("n_inter").cast("double") / F.col("n_a"), 6),
        )
        .withColumn(
            "cont_b_in_a",
            F.round(F.col("n_inter").cast("double") / F.col("n_b"), 6),
        )
        .filter(
            (F.col("cont_a_in_b") >= threshold)
            | (F.col("cont_b_in_a") >= threshold)
        )
        .select("id_a", "id_b", "n_inter", "cont_a_in_b", "cont_b_in_a")
    )


def _ranked_shingle_sets(sh: DataFrame) -> DataFrame:
    """Per-doc shingle array sorted by the shared rarest-first global
    order (document frequency asc, shingle asc): (id, sh_ord
    array<string>, n_sh).  One relation serves prefix extraction (an
    array slice), positional ranks (posexplode), and exact
    verification (array_intersect) — instead of two ranking-window
    passes plus a separate set relation."""
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    return (
        sh.join(freq, "shingle")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df_", "shingle"))).alias("ord"))
        .select(
            "id",
            F.col("ord.shingle").alias("sh_ord"),
            F.size("ord").alias("n_sh"),
        )
    )


def _containment_candidates_ranked(
    ranked: DataFrame,
    threshold: float,
    positional: bool = True,
) -> DataFrame:
    """Candidate (id_s, id_l) pairs for the exact containment join via
    an ASYMMETRIC prefix filter over ``_ranked_shingle_sets`` output.
    Lossless for max(|A∩B|/|A|, |A∩B|/|B|) >= ``threshold``.

    A pair qualifies iff |A∩B| >= ceil(t * min(|A|, |B|)) (the larger
    containment has the smaller denominator).  Designate per pair a
    SMALL role s = lexicographic min by (set size, id).  The pigeonhole
    on s: if every common shingle sat outside s's
    (|s| - ceil(t|s|) + 1)-prefix of the shared rarest-first order,
    the overlap would be <= ceil(t|s|) - 1 < required — so s must
    collide IN ITS PREFIX with some shingle of the large side.  Unlike
    symmetric Jaccard there is no length filter (any size ratio can
    qualify) and the large side cannot be prefix-truncated (its
    required overlap t*min is not a function of ITS size), so the join
    is prefix(s) x full(l): a hot stop-shingle now produces candidates
    only against the rare docs holding it inside their prefix, never
    the quadratic all-holders x all-holders blow-up of the naive
    shared-shingle join.  ``positional`` adds the PPJoin-style rank
    bound: a collision at ranks (i, j) of the same global order caps
    the overlap at min(i-1, j-1) + 1 + min(|s|-i, |l|-j); pairs whose
    best cap misses ceil(t|s|) never reach verification.
    """
    t = float(threshold)
    prefix_len = (
        F.col("n_sh")
        - F.ceil(F.lit(t) * F.col("n_sh") - F.lit(_PPJOIN_EPS))
        + 1
    ).cast("int")
    ps = ranked.select(
        F.col("id").alias("id_s"),
        F.col("n_sh").alias("n_s_"),
        F.posexplode(F.slice("sh_ord", F.lit(1), prefix_len)).alias(
            "pos", "shingle"
        ),
    ).select("id_s", "n_s_", (F.col("pos") + 1).alias("rk_s"), "shingle")
    pl = ranked.select(
        F.col("id").alias("id_l"),
        F.col("n_sh").alias("n_l_"),
        F.posexplode("sh_ord").alias("pos", "shingle"),
    ).select("id_l", "n_l_", (F.col("pos") + 1).alias("rk_l"), "shingle")
    coll = ps.join(pl, "shingle").filter(
        (F.col("n_s_") < F.col("n_l_"))
        | ((F.col("n_s_") == F.col("n_l_")) & (F.col("id_s") < F.col("id_l")))
    )
    ub = (
        F.least(F.col("rk_s") - 1, F.col("rk_l") - 1)
        + 1
        + F.least(
            F.col("n_s_") - F.col("rk_s"), F.col("n_l_") - F.col("rk_l")
        )
    )
    grouped = coll.groupBy("id_s", "id_l", "n_s_").agg(F.min(ub).alias("ub_"))
    if positional:
        grouped = grouped.filter(
            F.col("ub_")
            >= F.ceil(F.lit(t) * F.col("n_s_") - F.lit(_PPJOIN_EPS))
        )
    return grouped.select("id_s", "id_l")


def _containment_candidates(
    sh: DataFrame,
    threshold: float,
    positional: bool = True,
) -> DataFrame:
    """Candidate pairs from a raw (id, shingle) relation — test /
    standalone entry; ``containment_prefix_pairs`` reuses its
    checkpointed ranked relation instead."""
    return _containment_candidates_ranked(
        _ranked_shingle_sets(sh).localCheckpoint(eager=False), threshold, positional
    )


def containment_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram containment pairs via the asymmetric prefix
    filter: byte-identical output contract to ``containment_pairs`` —
    it SHARES that query's DuckDB oracle — but candidate pairs come
    only from small-side PREFIX collisions under the rarest-first
    global order (see ``_containment_candidates_ranked``), so one hot
    stop-shingle can no longer mint quadratic candidate pairs.
    Verification computes both exact containments for candidates only,
    as one array_intersect per candidate row instead of re-counting
    through the exploded-shingle shuffle."""
    sh = shingle_sets(df, id_col, text_col, n)
    ranked = _ranked_shingle_sets(sh).localCheckpoint(eager=False)
    cand = _containment_candidates_ranked(ranked, threshold)
    # normalize the (small, large) role pair back to the id-ordered
    # output contract before verification
    cand = cand.select(
        F.least("id_s", "id_l").alias("id_a"),
        F.greatest("id_s", "id_l").alias("id_b"),
    )
    return (
        cand.join(
            ranked.select(
                F.col("id").alias("id_a"), F.col("sh_ord").alias("set_a")
            ),
            "id_a",
        )
        .join(
            ranked.select(
                F.col("id").alias("id_b"), F.col("sh_ord").alias("set_b")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("set_a", "set_b"))
            .cast("long")
            .alias("n_inter"),
            F.size("set_a").alias("n_a"),
            F.size("set_b").alias("n_b"),
        )
        .withColumn(
            "cont_a_in_b",
            F.round(F.col("n_inter").cast("double") / F.col("n_a"), 6),
        )
        .withColumn(
            "cont_b_in_a",
            F.round(F.col("n_inter").cast("double") / F.col("n_b"), 6),
        )
        .filter(
            (F.col("cont_a_in_b") >= threshold)
            | (F.col("cont_b_in_a") >= threshold)
        )
        .select("id_a", "id_b", "n_inter", "cont_a_in_b", "cont_b_in_a")
    )
