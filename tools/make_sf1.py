#!/usr/bin/env python
"""Derive a deterministic sf1 dataset from the driver-provided sf0.1
parquet — the 4th scaling point SCALING.md needs (the provided
testdata stops at sf0.1, and a 2-decade log-log fit can hide
super-linear onset).

Weak-scaling protocol: 10 DISJOINT, key-shifted copies of sf0.1
(copy i adds i*10^7 to every entity/foreign key, far above every key
range), so entity cardinalities scale 10x while per-entity structure
is preserved — joins stay 1:1 relative, the co-purchase graph becomes
10 disjoint copies, per-hour event volume grows 10x over the same
time range (more users, same clock).  Dimensions (region, nation)
stay single-copy, as TPC-H scaling does.

Two columns need more than a key shift, or the workload SHAPE (not
just size) would change:

- ``documents.text``: identical text in every copy would put 10
  byte-identical docs in every near-dup bucket — candidate pairs grow
  ~100x and the measured "scaling" of LSH/Jaccard/SimHash would be an
  artifact of replication, not data growth.  Copies i>0 instead map
  every word to a same-length md5-derived pseudo-word (deterministic
  per (word, i)): document lengths, token counts, and WITHIN-copy
  duplicate structure are exactly preserved; cross-copy similarity is
  destroyed.
- ``embeddings.embedding``: copies are cyclically rolled by i
  positions — norms and within-copy geometry identical, cross-copy
  vectors decorrelated.

Output: <fixture dir>/<table>.parquet, a build-once fixture keyed on
every source table's mtime and size
(real_time_data_analytics_cassandra_spark/fixture_cache.py;
tools/clean_scratch.py preserves it).  This dataset exists for
SCALING measurements only — correctness oracles always run on the
driver-provided testdata.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from real_time_data_analytics_cassandra_spark.fixture_cache import (  # noqa: E402
    build_once,
    fixture_path,
)

SRC = "/root/testdata/sf0.1"
COPIES = 10
SHIFT = 10_000_000  # > every key range in sf0.1 (max key 149_999)

# int64 entity/foreign keys shifted per copy; everything else copies
# verbatim (region/nation are single-copy dimensions)
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMENSIONS = ["region", "nation"]

_WORD = re.compile(r"\w+", re.UNICODE)


def _rehash_text(text: str, copy: int, cache: dict) -> str:
    """Same-length pseudo-word per (word, copy): md5 hex repeated to
    the original length.  Deterministic, length-preserving, kills
    cross-copy similarity while keeping within-copy dup structure."""

    def sub(m: re.Match) -> str:
        w = m.group(0)
        key = w
        got = cache.get(key)
        if got is None:
            h = hashlib.md5(f"{w}|{copy}".encode()).hexdigest()
            got = (h * (len(w) // len(h) + 1))[: len(w)]
            cache[key] = got
        return got

    return _WORD.sub(sub, text)


def _build(out: str) -> None:
    os.makedirs(out)
    for t in DIMENSIONS:
        pq.write_table(
            pq.read_table(os.path.join(SRC, f"{t}.parquet")),
            os.path.join(out, f"{t}.parquet"),
        )
    for t, keys in KEY_COLS.items():
        base = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        parts = []
        for i in range(COPIES):
            tbl = base
            for k in keys:
                idx = tbl.schema.get_field_index(k)
                shifted = pc.add(tbl.column(k), pa.scalar(i * SHIFT, pa.int64()))
                tbl = tbl.set_column(idx, tbl.schema.field(idx), shifted)
            if t == "documents" and i > 0:
                cache: dict = {}
                texts = [
                    _rehash_text(x, i, cache)
                    for x in tbl.column("text").to_pylist()
                ]
                idx = tbl.schema.get_field_index("text")
                tbl = tbl.set_column(
                    idx, tbl.schema.field(idx), pa.array(texts, pa.string())
                )
            if t == "embeddings" and i > 0:
                rolled = [
                    np.roll(np.asarray(v, dtype=np.float32), i).tolist()
                    for v in tbl.column("embedding").to_pylist()
                ]
                idx = tbl.schema.get_field_index("embedding")
                tbl = tbl.set_column(
                    idx,
                    tbl.schema.field(idx),
                    pa.array(rolled, tbl.schema.field(idx).type),
                )
            parts.append(tbl)
        pq.write_table(
            pa.concat_tables(parts), os.path.join(out, f"{t}.parquet")
        )


def ensure_sf1() -> str:
    return build_once(
        fixture_path("sf1", 1, SRC, DIMENSIONS + list(KEY_COLS)), _build
    )


if __name__ == "__main__":
    print(ensure_sf1())
