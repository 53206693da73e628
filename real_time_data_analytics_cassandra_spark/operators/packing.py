"""Context-window sequence packing for training-data pipelines.

Greedy first-fit-in-order packing: within each group (e.g. a corpus
shard / source), documents are taken in a deterministic order and
appended to the current context-window bin until the token budget
would overflow, then a new bin starts.  The in-order greedy scan is
inherently sequential *within* a group but embarrassingly parallel
*across* groups — exactly the applyInPandas shape (one Arrow batch
per group, numpy-speed loop inside), which is how a 100 TB corpus
packs: thousands of shards, each scanned once.

The same semantics are SQL-expressible as a recursive CTE (the DuckDB
oracle), so the operator stays hash-gated despite being imperative.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType


def pack_greedy(
    df: DataFrame,
    group_col: str,
    order_col: str,
    token_col: str,
    budget: int,
) -> DataFrame:
    """Assign each row a ``bin_id`` (per-group context-window index)
    and ``bin_tokens`` (running fill of its bin after the row lands).

    A row larger than the budget gets a bin of its own (never split).
    Output columns: group_col, order_col, token_col, bin_id,
    bin_tokens.
    """
    fields = {f.name: f for f in df.schema.fields}
    schema = StructType(
        [
            fields[group_col],
            fields[order_col],
            fields[token_col],
            StructField("bin_id", LongType(), False),
            StructField("bin_tokens", LongType(), False),
        ]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        bin_ids, fills = [], []
        cur_bin, cur_fill = 0, 0
        for i, t in enumerate(pdf[token_col].astype("int64")):
            if i == 0 or cur_fill + t <= budget:
                cur_fill += t
            else:
                cur_bin += 1
                cur_fill = t
            bin_ids.append(cur_bin)
            fills.append(cur_fill)
        pdf["bin_id"] = pd.Series(bin_ids, dtype="int64")
        pdf["bin_tokens"] = pd.Series(fills, dtype="int64")
        return pdf[[group_col, order_col, token_col, "bin_id", "bin_tokens"]]

    return (
        df.select(group_col, order_col, token_col)
        .groupBy(group_col)
        .applyInPandas(pack, schema)
    )


def token_windows_udtf():
    """Strided overlapping token windows as a Python UDTF — the
    user-extensibility surface (SURVEY.md §2.8): a custom 1:N
    table function plugged into SQL with ``LATERAL``, the escape
    hatch for chunking logic a JVM expression can't express (real
    tokenizers, sentence splitters).

    Arrow-optimized (``useArrow``): batches cross the Python boundary
    as Arrow record batches, though eval itself is per-row — so the
    JVM ``sequence+explode`` form (chunk_documents) remains the hot
    path for plain token windows; this demonstrates the API with
    matching semantics (windows of 30 tokens every 20, emitted while
    start < n_tokens).
    """
    from pyspark.sql.functions import udtf

    @udtf(
        returnType=(
            "doc_id bigint, win_idx bigint, n_tokens bigint, chunk string"
        ),
        useArrow=True,
    )
    class TokenWindows:
        def eval(self, doc_id, text):  # noqa: ANN001 - UDTF signature
            toks = text.split(" ")
            for idx, start in enumerate(range(0, len(toks), 20)):
                w = toks[start : start + 30]
                yield doc_id, idx, len(w), " ".join(w)

    return TokenWindows
