"""The fixture cache (real_time_data_analytics_cassandra_spark/
fixture_cache.py) and tools/clean_scratch.py triage: fixtures are
keyed on version + input identity and published atomically; per-run
scratch and crash-leaked staging copies go, the fixture root and
unknown rtdac_ names stay — gated on a sandboxed temp root instead of
trusting the round checklist to catch a misclassification."""

from __future__ import annotations

import importlib.util
import os
import pathlib
import re
import tempfile

import pytest

from real_time_data_analytics_cassandra_spark.fixture_cache import (
    MARKER,
    ROOT,
    build_once,
    fixture_path,
)

REPO = pathlib.Path(__file__).resolve().parents[1]


def _load_clean_scratch():
    spec = importlib.util.spec_from_file_location(
        "clean_scratch", str(REPO / "tools" / "clean_scratch.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_payload(d: str, text: str = "built") -> None:
    os.makedirs(d)
    pathlib.Path(d, "payload").write_text(text)


def _siblings(path: str) -> set:
    return set(os.listdir(os.path.dirname(path)))


def test_fixture_build_recovers_from_stale_squatter(tmp_path):
    """A rename failure during the atomic promote does NOT always mean
    another session won with a complete fixture: a stale/partial
    directory (crashed old run, old layout) squats on the path too.
    A marker-less squatter is evicted and our staging copy promoted;
    a squatter carrying the marker is a concurrent winner and is
    kept.  Either way no staging copy is left behind."""
    for squatter_complete in (False, True):
        path = str(tmp_path / ROOT / f"fx_{squatter_complete}")

        def build_racing_squatter(stage: str) -> None:
            _write_payload(stage)
            # lands between our marker check and our rename
            _write_payload(path, "squatter")
            if squatter_complete:
                pathlib.Path(path, MARKER).touch()

        assert build_once(path, build_racing_squatter) == path
        want = "squatter" if squatter_complete else "built"
        assert pathlib.Path(path, "payload").read_text() == want
        assert os.path.exists(os.path.join(path, MARKER))
        assert not any(".stage-" in n for n in _siblings(path))
        # published: the next call reuses it without building
        assert build_once(path, lambda stage: pytest.fail("rebuilt")) == path


def test_failed_build_publishes_nothing_and_next_call_builds(tmp_path):
    path = str(tmp_path / ROOT / "fx_v1_sf_0")

    def crash(stage: str) -> None:
        _write_payload(stage)
        raise RuntimeError("build crashed")

    with pytest.raises(RuntimeError):
        build_once(path, crash)
    assert not os.path.exists(path)
    assert _siblings(path) == set()  # the stage is gone too
    build_once(path, _write_payload)
    assert pathlib.Path(path, "payload").read_text() == "built"
    assert os.path.exists(os.path.join(path, MARKER))


def test_fixture_path_keys_version_and_every_input(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path / "t"))
    sf = tmp_path / "sf0.001"
    sf.mkdir()
    for t in ("documents", "events"):
        (sf / f"{t}.parquet").write_bytes(b"PAR1")
    tables = ["documents", "events"]
    base = fixture_path("fx", 1, str(sf), tables)
    assert base == fixture_path("fx", 1, str(sf), tables)  # deterministic
    assert base.startswith(str(tmp_path / "t" / ROOT) + os.sep)
    assert not os.path.exists(base)  # keying creates nothing
    assert fixture_path("fx", 2, str(sf), tables) != base
    assert fixture_path("fy", 1, str(sf), tables) != base
    assert fixture_path("fx", 1, str(sf), ["documents"]) != base
    # touching ANY stamped input (not only the first) moves the key
    st = os.stat(sf / "events.parquet")
    os.utime(sf / "events.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert fixture_path("fx", 1, str(sf), tables) != base
    docs_only = fixture_path("fx", 1, str(sf), ["documents"])
    (sf / "documents.parquet").write_bytes(b"PAR1PAR1")  # size changes
    assert fixture_path("fx", 1, str(sf), ["documents"]) != docs_only


def test_snapshot_fixture_recovers_from_crash_between_commits(
    spark, tmp_path, monkeypatch
):
    """snapshot_docs_changes commits two versions; a crash between them
    must not wedge the fixture at version 1 (every later call would
    fail in snapshot_diff(v1, v2)).  The retry rebuilds and returns
    exactly the rows of a clean run."""
    from tests.conftest import SF_SMOKE

    from real_time_data_analytics_cassandra_spark import queries as q
    from real_time_data_analytics_cassandra_spark.sinks import snapshots

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path / "clean"))
    want = q.snapshot_docs_changes(spark, SF_SMOKE).collect()
    assert want

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path / "crash"))
    write_snapshot, calls = snapshots.write_snapshot, []

    def crash_on_second_commit(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise OSError("crashed between the two commits")
        return write_snapshot(*args, **kwargs)

    monkeypatch.setattr(snapshots, "write_snapshot", crash_on_second_commit)
    with pytest.raises(OSError):
        q.snapshot_docs_changes(spark, SF_SMOKE)
    assert q.snapshot_docs_changes(spark, SF_SMOKE).collect() == want


def test_triage_keeps_fixtures_drops_scratch_and_stage(tmp_path, monkeypatch):
    cs = _load_clean_scratch()
    kept = [
        ROOT,                            # the one fixture root
        "rtdac_pb_shim",                 # protobuf import shim
        "rtdac_bm25_idx_sf001_1_2",      # old layout: left alone
        "rtdac_totally_unknown_thing",   # unknown: conservative keep
    ]
    removed = [
        "rtdac_ckpt_streaming_ks_abc",   # per-run scratch prefix
    ]
    fixtures = ["copurchase_v1_sf0.001_abc"]
    stages = ["copurchase_v1_sf0.001_abc.stage-deadbeef"]
    for name in kept + removed + [f"{ROOT}/{n}" for n in fixtures + stages]:
        (tmp_path / name).mkdir()
        (tmp_path / name / "payload").write_text("x")
    monkeypatch.setattr(cs.tempfile, "gettempdir", lambda: str(tmp_path))
    cs.main()
    assert {p.name for p in tmp_path.iterdir()} == set(kept)
    inside = {p.name for p in (tmp_path / ROOT).iterdir()}
    assert inside == {"payload", *fixtures}


def test_scratch_prefixes_match_mkdtemp_sites():
    """SCRATCH_PREFIXES is the list of per-run scratch names: a
    mkdtemp prefix it does not cover piles up in the temp dir forever
    (unknown names are kept), and a listed prefix with no producer is
    dead weight.  The literal text before any f-string field counts."""
    cs = _load_clean_scratch()
    site = re.compile(r"""mkdtemp\(prefix=f?["']([^"'{]*)""")
    literals = {
        m.group(1)
        for top in ("real_time_data_analytics_cassandra_spark", "tests")
        for f in (REPO / top).rglob("*.py")
        for m in site.finditer(f.read_text())
    }
    assert literals
    uncovered = {p for p in literals if not p.startswith(cs.SCRATCH_PREFIXES)}
    assert not uncovered, f"mkdtemp prefixes clean_scratch keeps: {uncovered}"
    unproduced = {
        p for p in cs.SCRATCH_PREFIXES if not any(x.startswith(p) for x in literals)
    }
    assert not unproduced, f"scratch prefixes with no producer: {unproduced}"
