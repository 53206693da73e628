"""The benchmark's own tests.

    python -m pytest perfbench -q

The input tests are fast.  The smoke tests run every workload for a
few seconds at sf0.001 through run.py, untraced and traced, and take a
few minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

import gen
import tracing

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _ipc(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


def _inputs(seed: int, sf: float = 0.001) -> dict:
    tables = gen.make_tables(seed, sf)
    events = tables["events"]
    half = events.num_rows // 2
    users = gen.ranked_users(seed, events.slice(0, half))
    shards = gen.ShardSource(events, half, 250)
    return {
        "tables": {k: _ipc(v) for k, v in tables.items()},
        "schedule": gen.request_schedule(seed, 2.0, 30, users),
        "checks": gen.check_requests(seed, users),
        "shards": [_ipc(shards.shard(i)) for i in range(8)],
    }


def test_same_seed_same_inputs_byte_for_byte():
    assert _inputs(7) == _inputs(7)


def test_other_seed_changes_every_input():
    a, b = _inputs(7), _inputs(8)
    assert a["tables"]["events"] != b["tables"]["events"]
    assert a["tables"]["customer"] != b["tables"]["customer"]
    assert [r.url for r in a["schedule"]] != [r.url for r in b["schedule"]]
    assert a["shards"] != b["shards"]


def test_schedule_is_open_loop_fixed_rate_in_mix_order():
    users = np.arange(100)
    sched = gen.request_schedule(3, 3.0, 10, users)
    assert [r.due_s for r in sched] == [j / 3.0 for j in range(30)]
    assert [r.route for r in sched] == list(gen.MIX) * 5
    assert set(gen.MIX) == set(gen.ROUTES)
    ids = [r.params[0] for r in sched if r.route == "latest_info"]
    assert set(ids) <= set(users.tolist())


def test_shard_laps_keep_ids_unique_and_time_increasing():
    events = gen.make_tables(5, 0.001)["events"]
    src = gen.ShardSource(events, events.num_rows // 2, 97)
    shards = pa.concat_tables([src.shard(i) for i in range(20)])  # > 3 laps
    ids = shards.column("event_id").to_numpy()
    ts = shards.column("ts").cast(pa.int64()).to_numpy()
    assert len(np.unique(ids)) == len(ids)
    assert ids.min() >= events.num_rows // 2
    assert (np.diff(ts) >= 0).all()


def test_event_log_jobs_keyed_by_group_or_stream_batch(tmp_path):
    def task(stage, run_ms, cpu_ns):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "req-3"}},
        task(0, 40, 10_000_000),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [1, 2], "Properties": {"sql.streaming.queryId": "q",
                                             "streaming.sql.batchId": "7"}},
        task(1, 5, 0), task(2, 5, 0),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    ]
    log = tmp_path / "log"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    read, batch = tracing.parse_event_log(str(log))
    assert (read["group"], read["query_id"], read["batch"]) == ("req-3", None, None)
    assert (read["stages"], read["tasks"], read["task_run_ms"], read["task_cpu_ms"]) == (1, 1, 40, 10.0)
    assert (batch["group"], batch["query_id"], batch["batch"]) == (None, "q", 7)
    assert (batch["stages"], batch["tasks"], batch["submit"]) == (1, 2, 2.0)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "3", "--trace", str(trace), "--sf", "0.001"],
        cwd=HERE.parent, capture_output=True, text=True, timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_metric(workload):
    plain = _run(workload, 0)
    assert plain["correct"] and plain["failed"] == 0 and plain["attempted"] >= 1
    assert set(plain["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        assert plain["metrics"][m["name"]]["unit"] == m["unit"]
    traced = _run(workload, 1)
    assert traced["correct"]
    assert set(traced["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
