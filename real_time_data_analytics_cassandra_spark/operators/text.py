"""Text-analysis operators over the documents table.

Training-data-pipeline extensions (BASELINE.json north star): quality
scoring, token counting, language-ID heuristic, document
fingerprinting.  All built-in column expressions — whole-stage
codegen, no UDFs — so they run at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from real_time_data_analytics_cassandra_spark.functions.textfns import tokens, word_ngrams

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic.  Deterministic and intentionally minimal — the real lists
# would be config, the operator shape is what matters.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "de": ("der", "die", "das", "und", "zu"),
    "fr": ("le", "la", "et", "les", "des"),
}

# BPE-ish pre-tokenization: runs of letters, runs of digits, or a
# single non-alphanumeric non-space symbol (GPT-2-style pre-split,
# ASCII simplification).  Same regex runs under Java and RE2 (DuckDB).
BPE_ISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _stopword_count(toks_col: str, words: tuple[str, ...]) -> Column:
    array_lit = ", ".join(f"'{w}'" for w in words)
    return F.expr(
        f"size(filter({toks_col}, t -> array_contains(array({array_lit}), t)))"
    )


def quality_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality features: token count, char count, average
    token length, stopword ratio.  Single projection, no shuffle."""
    with_toks = df.withColumn("__toks", tokens(F.col(text_col)))
    n_tokens = F.size("__toks")
    n_chars = F.length(text_col)
    sw = _stopword_count("__toks", LANG_STOPWORDS["en"])
    return with_toks.select(
        F.col(id_col),
        n_tokens.cast("long").alias("n_tokens"),
        n_chars.cast("long").alias("n_chars_calc"),
        # chars excluding the (n_tokens-1) separators, averaged
        F.round((n_chars - (n_tokens - 1)).cast("double") / n_tokens, 6).alias(
            "avg_token_len"
        ),
        sw.cast("long").alias("stopword_cnt"),
        F.round(sw.cast("double") / n_tokens, 6).alias("stopword_ratio"),
    )


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish pre-tokenizer count."""
    lower = F.lower(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(lower, F.lit(BPE_ISH_PATTERN), 0)).cast("long").alias(
            "bpe_ish_tokens"
        ),
    )


def lang_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-list language scores + argmax prediction.

    Ties (including all-zero) resolve to 'unknown' — deterministic.
    """
    with_toks = df.withColumn("__toks", tokens(F.col(text_col)))
    score_cols = {
        lang: _stopword_count("__toks", words).cast("long")
        for lang, words in LANG_STOPWORDS.items()
    }
    langs = list(LANG_STOPWORDS)
    best = F.greatest(*[score_cols[lang] for lang in langs])
    # argmax with deterministic tie policy: a winner only if it is
    # strictly greater than every other language's score
    pred = F.lit("unknown")
    for lang in reversed(langs):
        others = [score_cols[o] for o in langs if o != lang]
        strictly_best = (score_cols[lang] > 0) & (score_cols[lang] > F.greatest(*others))
        pred = F.when(strictly_best, F.lit(lang)).otherwise(pred)
    return with_toks.select(
        F.col(id_col),
        *[score_cols[lang].alias(f"score_{lang}") for lang in langs],
        best.alias("best_score"),
        pred.alias("predicted_lang"),
        F.col("lang").alias("labeled_lang"),
    )


def rolling_fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash of
    the token stream, ``acc = (acc * 31 + token_hash) mod 1e9+7`` where
    ``token_hash`` is itself a char-level fold ``h = (h * 131 +
    codepoint) mod 1e9+7``.

    Unlike md5-of-text this survives in O(1) state per doc and extends
    to streaming/chunked ingestion.  The hash is engine-portable on
    purpose — plain bigint arithmetic over codepoints (no crc32/xxhash,
    which are Spark-private), so any ANSI engine reproduces it exactly;
    both folds stay < 2^63 (acc*31 + h < 3.3e10, h*131 + c < 1.4e11).
    Chars come from ``split(t, '')`` (one O(n) array build, ~1.7x
    faster than per-index substring, which rescans the UTF8 prefix);
    an empty token splits to [''] whose ascii() is 0 — the same fold
    value as an empty array, so no empty guard is needed.
    """
    with_toks = df.withColumn("__toks", tokens(F.col(text_col)))
    fp = F.expr(
        "aggregate(__toks, CAST(0 AS BIGINT), (acc, t) -> "
        "(acc * 31 + aggregate(split(t, ''), "
        "  CAST(0 AS BIGINT), (h, c) -> (h * 131 + ascii(c)) % 1000000007"
        ")) % 1000000007)"
    )
    return with_toks.select(F.col(id_col), fp.alias("fingerprint"))


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int = 5,
) -> DataFrame:
    """Top-k terms per document by TF-IDF (tf * ln(N/df)).

    Three aggregations, all map-side combined: term frequency per
    (doc, term), document frequency per term (one count over the
    already-distinct doc-term pairs), corpus size as a broadcast
    scalar — no driver-side counting.  ln runs on identical doubles in
    any engine; scores round at 6dp with (score desc, term) ranking.
    """
    from pyspark.sql import Window

    from real_time_data_analytics_cassandra_spark.catalog import spread

    tok = spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    # one tokenize+aggregate pass (r13, guide §1.2): tf feeds both the
    # document-frequency regroup and the scoring join
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= top_k)
        .select("doc_id", "term", F.col("tf").alias("term_freq"), "tfidf", "rnk")
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query under BM25
    (Robertson/Sparck-Jones idf, the standard full-text ranking
    function) — the lexical-retrieval complement to the embedding
    kNN operators.

    Scale shape: document length comes from ``size(tokens)`` (a pure
    projection, no explode); the posting explode filters to the query
    terms IN-list *in the scan stage*, so only matching postings ever
    shuffle — the per-(doc,term) agg over a 100 TB corpus touches
    |query| terms' postings, not the corpus.  Corpus stats (N, avgdl)
    are a 1-row broadcast (tfidf's pattern); the per-term document
    frequency table is |query|-rows, broadcast.

    Engine portability: every input to the score is integral (tf,
    dl, df, N) except avgdl (sum/count of int64 — identical IEEE
    division in any engine); the per-term contributions fold in
    sorted term order, so the cross-term double sum is bit-identical
    too (same trick as the rolling fingerprint).  Rounded at 6dp,
    ranked (score desc, doc id) for determinism.
    """
    from real_time_data_analytics_cassandra_spark.catalog import spread

    # one corpus tokenize per ingredient (r13, guide §1.2 — the same
    # shared-pass shape as bm25_per_query_topk below): dl feeds the
    # stats broadcast AND the contrib join; m feeds dfreq AND contrib
    dl = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).cast("bigint").alias("dl"),
    ).localCheckpoint(eager=False)
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tok = spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    m = (
        tok.filter(F.col("term").isin(*query_terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = m.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    return bm25_rank(m, dl, dfreq, stats, k1=k1, b=b, top_k=top_k)


def bm25_rank(
    m: DataFrame,
    dl: DataFrame,
    dfreq: DataFrame,
    stats: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """Rank documents from BM25 ingredients: ``m`` (doc_id, term, tf)
    postings restricted to the query terms, ``dl`` (doc_id, dl),
    ``dfreq`` (term, dfreq), ``stats`` one row (n_docs, avgdl).
    Factored out of :func:`bm25_topk` so the PERSISTED-index search
    path (operators/index.py) scores with literally the same
    expressions — parity is by construction, not by reimplementation.
    """
    contrib = (
        m.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "c",
            F.expr(
                f"ln(1 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))"
                f" * (tf * ({k1} + 1))"
                f" / (tf + {k1} * (1 - {b} + {b} * dl / avgdl))"
            ),
        )
    )
    folded = contrib.groupBy("doc_id").agg(
        F.round(
            F.expr(
                "aggregate(array_sort(collect_list(struct(term, c))), "
                "CAST(0 AS DOUBLE), (acc, x) -> acc + x.c)"
            ),
            6,
        ).alias("score")
    )
    from pyspark.sql import Window

    # orderBy+limit plans as TakeOrderedAndProject (distributed top-k,
    # no single-partition global window over all matching docs); the
    # rank window then runs over <= top_k rows only
    top = folded.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rnk", F.row_number().over(w).cast("long")).select(
        "doc_id", "score", "rnk"
    )


# Longest run of equal neighbors in the sorted bigram array == the
# top bigram's multiplicity, computed in one JVM-side fold.
_MAX_RUN_EXPR = """
aggregate(
  sort_array(__bg),
  named_struct('prev', '', 'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
  (acc, x) -> named_struct(
     'prev', x,
     'run', IF(x = acc.prev, acc.run + CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
     'best', GREATEST(acc.best,
                      IF(x = acc.prev, acc.run + CAST(1 AS BIGINT),
                         CAST(1 AS BIGINT)))),
  acc -> acc.best)
"""


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition / diversity features per document:
    word count, distinct-word ratio, most-frequent-bigram count and
    its fraction of all bigrams.

    Shape: a pure projection — no aggregation shuffle.  The
    top-bigram multiplicity is the longest equal-neighbor run of the
    per-row SORTED bigram array (one sort_array + one aggregate fold,
    O(n log n) per document, all JVM-side).  The only possible
    exchange is catalog.spread's adaptive round-robin split when the
    scan arrives under-parallel (single-row-group file); on a real
    multi-split corpus the plan is shuffle-free.  For pathologically
    long documents prefer :func:`repetition_stats_grouped` (linear,
    no per-row sort).
    """
    from real_time_data_analytics_cassandra_spark.catalog import spread

    return (
        spread(df).select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
        .filter(F.size("__toks") >= 2)
        .withColumn("__bg", word_ngrams("__toks", 2))
        .select(
            F.col(id_col),
            F.size("__toks").cast("long").alias("n_words"),
            F.round(
                F.size(F.array_distinct("__toks")).cast("double")
                / F.size("__toks"),
                6,
            ).alias("distinct_word_ratio"),
            F.expr(_MAX_RUN_EXPR).cast("long").alias("top_bigram_cnt"),
        )
        .withColumn(
            "top_bigram_frac",
            F.round(
                F.col("top_bigram_cnt").cast("double") / (F.col("n_words") - 1), 6
            ),
        )
    )


def repetition_stats_grouped(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Explode + grouped-count form of :func:`repetition_stats` —
    linear per document (no per-row sort), at the cost of shuffling
    the bigram stream; the fallback when single documents are too
    large to sort in task memory.  Identical output."""
    base = df.select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("__toks"),
    ).select(
        F.col(id_col),
        F.size("__toks").cast("long").alias("n_words"),
        F.round(
            F.size(F.array_distinct("__toks")).cast("double") / F.size("__toks"), 6
        ).alias("distinct_word_ratio"),
        F.explode(word_ngrams("__toks", 2)).alias("bigram"),
    )
    return (
        base.groupBy(id_col, "n_words", "distinct_word_ratio", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col, "n_words", "distinct_word_ratio")
        .agg(F.max("cnt").cast("long").alias("top_bigram_cnt"))
        .withColumn(
            "top_bigram_frac",
            F.round(
                F.col("top_bigram_cnt").cast("double") / (F.col("n_words") - 1), 6
            ),
        )
    )


def contaminated_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    eval_group: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: training documents sharing at least
    one word-n-gram with the held-out evaluation slice
    (``group_col == eval_group``), with the count of distinct
    contaminated shingles per training doc.

    Scale shape: the eval shingle set (benchmarks are small relative
    to a training corpus) is distinct-ed then broadcast, so the
    training side is one scan + map-side semi-join — no shuffle of the
    corpus; the only corpus-keyed aggregation is the per-doc count.
    """
    sh = df.select(
        F.col(id_col), F.col(group_col), tokens(F.col(text_col)).alias("__toks")
    ).select(
        F.col(id_col),
        F.col(group_col),
        F.explode(F.array_distinct(word_ngrams("__toks", n))).alias("shingle"),
    )
    ev = (
        sh.filter(F.col(group_col) == eval_group)
        .select("shingle")
        .distinct()
    )
    return (
        sh.filter(F.col(group_col) != eval_group)
        .join(F.broadcast(ev), "shingle")
        .groupBy(id_col, group_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_shingles"))
    )


def corpus_ngram_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    top_k: int = 100,
) -> DataFrame:
    """Corpus-wide top-k word n-grams with total and document
    frequency — the counting pass of vocabulary induction (the
    pair-frequency statistics BPE-style tokenizer training starts
    from) and of n-gram LM estimation.

    Scale shape: n-grams expand JVM-side (explode over the same
    ``word_ngrams`` expression the dedup shingles use), counts
    partial-aggregate map-side, so the single shuffle carries one row
    per distinct (n-gram) — not per occurrence; the distinct-doc count
    rides the same aggregation via count(DISTINCT).  The global top-k
    is an orderBy+limit => TakeOrderedAndProject over |vocab| rows,
    never a full sort of the corpus.
    """
    from real_time_data_analytics_cassandra_spark.catalog import spread

    ng = (
        spread(df)
        .select(
            F.col(id_col).alias("doc_id"),
            tokens(F.col(text_col)).alias("__toks"),
        )
        .select("doc_id", F.explode(word_ngrams("__toks", n)).alias("ngram"))
    )
    agg = ng.groupBy("ngram").agg(
        F.count(F.lit(1)).alias("occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return agg.orderBy(F.desc("occurrences"), F.asc("ngram")).limit(top_k)


def length_bucket_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Length-bucketed batching audit: assign every document to a
    token-length bucket at exact percentile boundaries and report the
    padding waste of batching each bucket to its max length —
    the planning statistic behind sorted batching (bucketing
    similar-length sequences cuts padding FLOPs).

    Scale shape: NO global sort (contrast `value_deciles`, the NTILE
    demo) — the boundary vector is ONE exact-percentile aggregate row
    broadcast back over the scan, and the bucket id is a pure
    comparison fold, so the only shuffle is the |buckets|-row final
    aggregation.  Exact interpolated percentile matches DuckDB's
    quantile_cont (parity proven by value_percentiles).
    """
    # token count via separator counting (len - len(without spaces) + 1)
    # instead of materializing the token array: this operator scans the
    # corpus twice (boundary agg + assignment), so the tokenize cost
    # doubles — the char-count form is a cheap codegen'd scalar and
    # agrees with size(split(text, ' ')) for single-space text,
    # including the empty-string edge (split('') -> [''], size 1)
    n_tok = (
        F.length(text_col) - F.length(F.replace(F.col(text_col), F.lit(" "))) + 1
    )
    lengths = df.select(
        F.col(id_col).alias("doc_id"),
        n_tok.cast("long").alias("n_tokens"),
    )
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = lengths.agg(
        F.expr(
            f"percentile(n_tokens, array({', '.join(str(x) for x in qs)}))"
        ).alias("__qs")
    )
    bucket = F.lit(1)
    for j in range(len(qs)):
        bucket = bucket + (
            F.col("n_tokens") > F.element_at("__qs", j + 1)
        ).cast("int")
    assigned = lengths.join(F.broadcast(bounds)).withColumn(
        "bucket", bucket.cast("long")
    )
    return (
        assigned.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
            (
                F.max("n_tokens") * F.count(F.lit(1)) - F.sum("n_tokens")
            ).alias("padding_waste"),
        )
        .orderBy("bucket")
    )


# PII patterns chosen to parse identically under Java regex (Spark)
# and RE2 (DuckDB): character classes, bounded repetition,
# non-capturing groups and \b word boundaries only — no lookarounds,
# no backreferences.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII redaction — the compliance pass every web-scale training
    pipeline runs before tokenization (C4/FineWeb-style): emails,
    IPv4 addresses and NANP-style phone numbers are replaced with
    typed placeholder tags; per-document hit counts are reported so
    the pipeline can route PII-heavy documents to quarantine instead
    of training.

    Counts are independent pattern hits on the RAW text; redaction
    applies email -> IPv4 -> phone in that order so an address inside
    an already-redacted span is not re-matched.  All four expressions
    are JVM regexp built-ins inside whole-stage codegen — no UDFs, no
    shuffle: the operator is a pure map over the corpus and scales
    with scan bandwidth.

    Output: (id, n_emails, n_ipv4, n_phones, clean_text).
    """
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PII_IPV4), F.lit(0)))
        .cast("long")
        .alias("n_ipv4"),
        F.size(F.regexp_extract_all(t, F.lit(PII_PHONE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        redacted.alias("clean_text"),
    )


def build_vocab(
    df: DataFrame, id_col: str, text_col: str, vocab_size: int
) -> DataFrame:
    """Frequency-ranked token vocabulary: the top ``vocab_size``
    tokens by (count desc, token asc), assigned ids 1..V by that
    rank (0 is reserved for UNK).  The counting pass is one
    map-side-combined aggregate (one row per DISTINCT token on the
    shuffle); the top-V cut is ``orderBy(...).limit(vocab_size)`` —
    a distributed TakeOrdered over the distinct-token relation, so
    at 100 TB the billions of noisy singleton tokens never funnel
    through one task.  Only the <= vocab_size survivors pass through
    the unpartitioned rank window that assigns contiguous ids — a
    model-sized relation by construction (same pattern as
    ``doc_frequencies``' top-k and part_affinity's TakeOrdered-then-
    rank)."""
    from pyspark.sql import Window

    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(vocab_size)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return top.select(
        "token", F.row_number().over(w).cast("long").alias("token_id")
    )


def encode_with_vocab(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str,
    text_col: str,
    unk_id: int = 0,
) -> DataFrame:
    """Vocabulary-mapped tokenization — the text -> token-id step
    between cleaning and packing in every LLM data pipeline.  Tokens
    posexplode JVM-side, the (model-sized, broadcast) vocab maps each
    token to its id with UNK fallback, and per-doc id sequences
    reassemble ORDER-PRESERVINGLY via array_sort over (pos, id)
    structs — one shuffle (the per-doc regroup), no UDFs, no driver
    state.  At 100 TB the vocab is a fixed model table (50k-200k
    rows, squarely broadcast-sized) and the encode is embarrassingly
    parallel.

    Output: (id, n_tokens, n_unk, token_ids: array<long>).
    """
    pos_tok = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "token"),
    )
    enc = pos_tok.join(F.broadcast(vocab), "token", "left").select(
        "id", "pos", F.coalesce("token_id", F.lit(unk_id)).alias("tid")
    )
    return enc.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum((F.col("tid") == unk_id).cast("long")).alias("n_unk"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))),
            lambda x: x["tid"],
        ).alias("token_ids"),
    )


def blocklist_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    blocklist: DataFrame,
    term_col: str = "term",
) -> DataFrame:
    """Blocklist (bad-word) filtering audit — the C4 §2.2 "List of
    Dirty, Naughty …" rule: a document containing ANY blocklisted
    token is dropped; the audit reports, per corpus ``group_col``,
    how many documents and characters the rule removes.

    The blocklist arrives as a DATAFRAME (the production shape: a
    maintained table, not a code literal).  Per-doc hit counting is a
    distinct-token explode broadcast-hash-joined against the list —
    the corpus never shuffles; only (doc, matched-term) pairs leave
    the map side.  For the usual few-thousand-term list this is one
    broadcast + one per-doc partial count; a corpus-scale blocklist
    would swap the broadcast for a bucketed sort-merge join with no
    other plan change.

    Output: (group, n_docs, n_blocked, block_ratio, retained_docs,
    retained_chars) — one row per group.
    """
    docs = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("g"),
        F.length(text_col).cast("long").alias("n_chars"),
        tokens(F.col(text_col)).alias("__toks"),
    )
    hits = (
        docs.select("id", F.explode_outer(F.array_distinct("__toks")).alias("tok"))
        .join(
            F.broadcast(blocklist.select(F.col(term_col).alias("tok"))),
            "tok",
            "left_semi",
        )
        .select("id")
        .distinct()
        .withColumn("blocked", F.lit(True))
    )
    flagged = docs.drop("__toks").join(hits, "id", "left").withColumn(
        "blocked", F.coalesce("blocked", F.lit(False))
    )
    return flagged.groupBy(F.col("g").alias(group_col)).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("blocked").cast("long")).alias("n_blocked"),
        F.round(
            F.sum(F.col("blocked").cast("long")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("block_ratio"),
        F.sum((~F.col("blocked")).cast("long")).alias("retained_docs"),
        F.sum(
            F.when(~F.col("blocked"), F.col("n_chars")).otherwise(F.lit(0))
        ).alias("retained_chars"),
    )


def bm25_per_query_topk(
    df: DataFrame,
    query_docs: DataFrame,
    id_col: str,
    text_col: str,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """MORE-LIKE-THIS BM25: each row of ``query_docs`` (same schema
    as ``df``) uses its own DISTINCT tokens as the query bag and
    retrieves the corpus top-k (self excluded) — the per-query
    generalization of :func:`bm25_topk`, sharing its scoring
    expressions and portability discipline (integral tf/dl/df/N,
    sorted-term fold, 6dp round, (score desc, doc) tiebreak).

    Scale shape: the query-term table is |queries| x |distinct terms
    per doc| — tiny — and broadcasts twice (once as an IN-set so only
    matching postings leave the corpus scan, once to fan matched
    postings out per query).  Document frequency is computed per term
    over matching docs, so it is query-INDEPENDENT and each term's df
    is counted once, however many queries share the term.  Per-query
    ranking windows partition by query id — no global sort."""
    from real_time_data_analytics_cassandra_spark.catalog import spread

    qterms = query_docs.select(
        F.col(id_col).alias("q_doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("term"),
    )
    # ONE corpus tokenize per relation (guide §1.2, the minhash shared-
    # pass pattern): without the checkpoints this query's plan re-derived
    # the corpus tokenize ~5x — dl for the stats broadcast and again
    # for the contrib join, the postings explode for dfreq and again
    # for contrib.  dl is narrow (id, bigint) and m is pruned to the
    # query terms before it ever aggregates, so both checkpointed relations
    # are small fractions of the corpus bytes.
    dl = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).cast("bigint").alias("dl"),
    ).localCheckpoint(eager=False)
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tok = spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    m = (
        tok.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = m.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    contrib = (
        m.join(F.broadcast(qterms), "term")
        .filter(F.col("doc_id") != F.col("q_doc_id"))
        .join(dl, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "c",
            F.expr(
                f"ln(1 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))"
                f" * (tf * ({k1} + 1))"
                f" / (tf + {k1} * (1 - {b} + {b} * dl / avgdl))"
            ),
        )
    )
    folded = contrib.groupBy("q_doc_id", "doc_id").agg(
        F.round(
            F.expr(
                "aggregate(array_sort(collect_list(struct(term, c))), "
                "CAST(0 AS DOUBLE), (acc, x) -> acc + x.c)"
            ),
            6,
        ).alias("score")
    )
    # two-phase rank: the candidate set is already term-pruned, but
    # with few query docs the final per-query window is still a
    # few-task funnel at scale — bound it the same way as the vector
    # top-k family (operators/topk.py::bounded_topk_per_key)
    from real_time_data_analytics_cassandra_spark.operators.topk import (
        bounded_topk_per_key,
    )

    return (
        bounded_topk_per_key(
            folded,
            keys=["q_doc_id"],
            order=[F.desc("score"), F.asc("doc_id")],
            k=top_k,
            salt_on=["doc_id"],
            rank_col="rnk",
        )
        .withColumn("rnk", F.col("rnk").cast("long"))
        .select("q_doc_id", "doc_id", "score", "rnk")
    )


def phrase_occurrences(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    phrase: list[str],
) -> DataFrame:
    """Exact PHRASE match (consecutive whitespace tokens) per
    document — zero-shuffle form: occurrence positions are computed
    entirely inside the scan stage with higher-order functions
    (sequence + filter + element_at over the token array), so the
    only exchange in a typical consumer is its final ordering.  The
    standard retrieval primitive one level up from bag-of-words
    (bm25_search): "training data" must match as a phrase, not as
    two independent terms.

    Output: (id_col, n_occurrences, first_pos) for documents with at
    least one occurrence; positions are 1-based token offsets.

    At 100 TB this is the SCAN path (a full pass, but embarrassingly
    parallel and codegen'd end to end); the INDEX path for rare
    phrases is :func:`phrase_occurrences_postings`, which touches
    only the phrase terms' postings."""
    k = len(phrase)
    toks = F.split(F.col(text_col), " ")
    cond = " AND ".join(
        "element_at(__toks, CAST(i + {j} AS INT)) = '{w}'".format(
            j=j, w=w.replace("'", "''")
        )
        for j, w in enumerate(phrase)
    )
    # sequence(1, n) DESCENDS when n < 1 — guard short documents
    hits = F.expr(
        f"CASE WHEN size(__toks) >= {k} THEN "
        f"filter(sequence(1, size(__toks) - {k} + 1), i -> {cond}) "
        f"ELSE array() END"
    )
    return (
        docs.select(F.col(id_col), toks.alias("__toks"))
        .select(F.col(id_col), hits.alias("__hits"))
        .filter(F.size("__hits") > 0)
        .select(
            id_col,
            F.size("__hits").cast("long").alias("n_occurrences"),
            F.array_min("__hits").cast("long").alias("first_pos"),
        )
    )


def phrase_occurrences_postings(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    phrase: list[str],
) -> DataFrame:
    """Same result as :func:`phrase_occurrences`, via POSITIONAL
    POSTINGS adjacency joins — the shape a persisted positional
    inverted index serves: postings (term, doc, pos) are filtered to
    the phrase's terms BEFORE any exchange (with a hive-bucketed
    term-partitioned index this is partition pruning: only the
    phrase terms' buckets are even read), then consecutive terms
    equi-join on (doc, pos + offset).  Join input is the phrase
    terms' total postings — for rare phrases, orders of magnitude
    below the corpus scan the HOF form pays.

    Both forms share one oracle; their equality is also asserted
    directly in tests/test_index.py."""
    k = len(phrase)
    post = (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), " ")).alias("pos0", "term"),
        )
        # pushed inside the scan stage; 1-based positions
        .filter(F.col("term").isin(list(set(phrase))))
        .select(id_col, (F.col("pos0") + 1).alias("pos"), "term")
    )
    starts = post.filter(F.col("term") == phrase[0]).select(id_col, "pos")
    for j in range(1, k):
        nxt = post.filter(F.col("term") == phrase[j]).select(
            F.col(id_col), (F.col("pos") - j).alias("pos")
        )
        starts = starts.join(nxt, [id_col, "pos"])
    return starts.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min("pos").cast("long").alias("first_pos"),
    )
