"""Local mirror of the driver's correctness gate: every queries()
entry with an oracle_sql() entry must match DuckDB on the same
parquet, compared the same way (tools/oracle_check.py: sort columns
by name, sort rows, exact value equality).  Runs at sf0.001 for
speed; the driver re-runs at sf0.01.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_ORACLE
from tools.oracle_check import duck, first_mismatch

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    sdf = QUERIES[name](spark, SF_ORACLE).toPandas()
    con = duck(SF_ORACLE)
    odf = con.sql(ORACLES[name]).df()
    con.close()
    bad = first_mismatch(sdf, odf)
    assert bad is None, f"{name}: {bad}"


_TS = pd.Timestamp("2024-03-10 02:30:00.123456")
_NAN = float("nan")


@pytest.mark.parametrize(
    "a, b, reported",
    [
        pytest.param(
            {"k": [1, 2], "s": ["x", "y"]},
            {"s": ["y", "x"], "k": [2, 1]},
            None,
            id="row-and-column-order-ignored",
        ),
        pytest.param(
            {"v": [1.0]},
            {"v": [float(np.nextafter(1.0, 2.0))]},
            "v[0]",
            id="one-ulp-float-reported",
        ),
        pytest.param({"v": [_NAN, 1.0]}, {"v": [1.0, _NAN]}, None, id="nan-equals-nan"),
        pytest.param({"v": [_NAN]}, {"v": [0.0]}, "v[0]", id="nan-vs-zero-reported"),
        pytest.param(
            {"t": pd.Series([_TS]).astype("datetime64[ns]")},
            {"t": pd.Series([_TS]).astype("datetime64[us]")},
            None,
            id="ns-and-us-timestamps-equal",
        ),
        pytest.param({"a": [1]}, {"b": [1]}, "columns", id="column-set-reported"),
        pytest.param({"a": [1, 1]}, {"a": [1]}, "rows", id="row-count-reported"),
    ],
)
def test_first_mismatch_protocol(a, b, reported):
    """The driver's exact compare protocol (tools/oracle_check.py),
    Spark-free: order-insensitive, exact to the last ulp, NaN == NaN,
    timestamp unit-insensitive, and shape checked before values."""
    bad = first_mismatch(pd.DataFrame(a), pd.DataFrame(b))
    if reported is None:
        assert bad is None, bad
    else:
        assert bad is not None and bad.startswith(reported), bad


@pytest.mark.slow
def test_every_query_runs_and_returns_rows(spark):
    """Rows-only sanity for queries without an oracle."""
    for name, fn in QUERIES.items():
        if name in ORACLES:
            continue
        df = fn(spark, SF_ORACLE)
        assert df.count() >= 0, name


def test_approx_distinct_within_error_bound(spark):
    """HLL++ sketch (rsd=0.02) must land within 10% of the exact
    distinct count — the cross-validation for the no-oracle query."""
    exact = {
        r.event_type: r.n_users
        for r in QUERIES["distinct_users_per_type"](spark, SF_ORACLE).collect()
    }
    approx = {
        r.event_type: r.n_users_approx
        for r in QUERIES["approx_distinct_users"](spark, SF_ORACLE).collect()
    }
    assert set(exact) == set(approx)
    for k, v in exact.items():
        assert abs(approx[k] - v) <= max(1, 0.1 * v), (k, v, approx[k])


def test_multimodal_features_match_direct_numpy(spark):
    """The Arrow feature-extraction stage (posexploded to scalar
    rows) must equal a direct numpy histogram of the same utf-8
    payloads — independent of the DuckDB oracle, which recomputes it
    character-wise in SQL."""
    rows = QUERIES["multimodal_features"](spark, SF_ORACLE).collect()
    con = duck(SF_ORACLE)
    texts = dict(con.sql("SELECT doc_id, text FROM documents").fetchall())
    con.close()
    assert len(rows) == len(texts) * 16
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, [0.0] * 16)[r.feature_idx] = r.value
    for doc_id in list(got)[:50]:
        payload = texts[doc_id].encode("utf-8")
        arr = np.frombuffer(payload, dtype=np.uint8)
        expected = np.bincount(arr >> 4, minlength=16) / arr.size
        assert np.array_equal(np.array(got[doc_id]), expected), doc_id


def test_multimodal_features_empty_payload(spark):
    """An EMPTY document must yield an all-zero 16-bucket feature
    vector on both engines — the Spark histogram short-circuits to
    zeros and the oracle's CASE WHEN n = 0 guard avoids a NULL-ing
    0/0 — so oracle parity holds with zero-length payloads present."""
    import duckdb

    from real_time_data_analytics_cassandra_spark.operators.multimodal import (
        extract_features,
    )

    docs = spark.createDataFrame(
        [(1, b""), (2, b"abc"), (3, b"")],
        "doc_id long, payload binary",
    )
    rows = extract_features(docs).collect()
    feats = {r.doc_id: r.features for r in rows}
    assert feats[1] == [0.0] * 16 and feats[3] == [0.0] * 16
    assert abs(sum(feats[2]) - 1.0) < 1e-12
    # oracle side: same CTE as the registry oracle over a fixture with
    # an empty text — the guard must emit 0.0, never NULL
    con = duckdb.connect()
    con.sql("CREATE TABLE documents AS SELECT 1 AS doc_id, '' AS text "
            "UNION ALL SELECT 2, 'abc'")
    out = con.sql(ORACLES["multimodal_features"]).df()
    con.close()
    assert not out["value"].isna().any()
    d1 = out[out.doc_id == 1]["value"]
    assert len(d1) == 16 and (d1 == 0.0).all()


def test_blocked_all_pairs_matches_naive(spark):
    """cosine_all_pairs_blocked (numpy GEMM path) must be bit-identical
    to the naive fold-per-pair form on the same corpus."""
    from real_time_data_analytics_cassandra_spark.catalog import table
    from real_time_data_analytics_cassandra_spark.operators import similarity as sim_op

    emb = table(spark, SF_ORACLE, "embeddings")
    naive = sim_op.cosine_near_dup_pairs(emb, threshold=0.35).toPandas()
    blocked = sim_op.cosine_all_pairs_blocked(emb, threshold=0.35).toPandas()
    bad = first_mismatch(naive, blocked)
    assert bad is None, bad


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema) == 4


def test_audio_windows_match_direct_numpy(spark):
    """The Arrow windowed-RMS stage must equal a direct numpy model
    of the same utf-8 payloads (cross-check for the no-oracle
    windowed query)."""
    from real_time_data_analytics_cassandra_spark.operators.multimodal import (
        AUDIO_WINDOW,
    )

    rows = QUERIES["audio_window_features"](spark, SF_ORACLE).collect()
    con = duck(SF_ORACLE)
    texts = dict(con.sql("SELECT doc_id, text FROM documents").fetchall())
    con.close()
    got = {(r.doc_id, r.window_idx): (r.rms, r.zero_crossings) for r in rows}
    n_expected = 0
    for doc_id, text in texts.items():
        samples = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(
            np.float64
        ) - 128.0
        n_win = (samples.size + AUDIO_WINDOW - 1) // AUDIO_WINDOW
        n_expected += n_win
        for w in range(n_win):
            frame = samples[w * AUDIO_WINDOW : (w + 1) * AUDIO_WINDOW]
            rms = round(float(np.sqrt(np.mean(frame * frame))), 6)
            signs = np.signbit(frame[frame != 0.0])
            zc = int(np.count_nonzero(signs[1:] != signs[:-1]))
            assert got[(doc_id, w)] == (rms, zc), (doc_id, w)
    assert len(got) == n_expected


def test_rolling_fingerprint_matches_python_model(spark):
    """The JVM fold fingerprint must equal the same polynomial rolling
    hash computed in pure Python (char-level codepoint fold — the
    engine-portable hash the DuckDB oracle reproduces too)."""
    rows = QUERIES["doc_rolling_fingerprint"](spark, SF_ORACLE).collect()
    con = duck(SF_ORACLE)
    texts = dict(con.sql("SELECT doc_id, text FROM documents").fetchall())
    con.close()
    assert len(rows) == len(texts)
    M = 1_000_000_007
    for r in rows:
        acc = 0
        for tok in texts[r.doc_id].split(" "):
            h = 0
            for ch in tok:
                h = (h * 131 + ord(ch)) % M
            acc = (acc * 31 + h) % M
        assert r.fingerprint == acc, r.doc_id
