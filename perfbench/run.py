#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload, one JSON line out.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 25 --trace 0

Run from the root of a checkout.  The run happens in a child process
(perfbench/bench.py) whose environment this script sets, the same on
every run:

- ``PYTHONPATH`` is the checkout root, so Spark's Python workers can
  import the engine package wherever the command is started from;
- ``SPARK_GRAFT_CPUS`` is the number of CPUs this process may use
  (``nproc``), so the session runs on ``local[nproc]``;
- ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVMs' temp dir
  (``JAVA_TOOL_OPTIONS``) point into a scratch root under perfbench/,
  which is deleted at exit.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the
workload twice, untraced and then traced (Spark event log plus spans),
prints the per-layer metrics of the traced run with the difference
between the two as ``harness.tracing_overhead_pct``, and writes the
spans to perfbench/out/.  The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``; the exit code is
non-zero when any output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "real_time_data_analytics_cassandra_spark"
DEADLINE_S = 170.0


def child_env(scratch: Path) -> dict[str, str]:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH", "")) if p
    )
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    env["TMPDIR"] = str(scratch / "tmp")
    # every JVM, the spark-submit launcher too: temp files in the
    # scratch root and no hsperfdata file under /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={scratch / 'tmp'} -XX:-UsePerfData"
    env["PYTHONUNBUFFERED"] = "1"
    return env


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def reap(pgid: int) -> None:
    """Wait until every process of the child's group has ended,
    killing what is left after a grace period."""
    for sig_after in (10.0, 5.0):
        end = time.monotonic() + sig_after
        while time.monotonic() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return


def run_child(args, traced: bool, scratch: Path, deadline: float, spans: Path | None) -> dict:
    scratch.mkdir(parents=True)
    for sub in ("spark-local", "tmp"):
        (scratch / sub).mkdir()
    cmd = [
        sys.executable,
        str(HERE / "bench.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(int(traced)),
        "--scratch", str(scratch),
        "--sf", str(args.sf),
    ]
    if spans:
        cmd += ["--spans", str(spans)]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=child_env(scratch), stdout=subprocess.PIPE, start_new_session=True
    )
    try:
        out, _ = proc.communicate(timeout=max(deadline - time.monotonic(), 1.0))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit(f"perfbench: {args.workload} did not finish in time")
    except BaseException:  # interrupted: stop the child, then re-raise
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        reap(proc.pid)
    lines = out.decode().strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: {args.workload} run failed (exit {proc.returncode})")
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="scale of the generated tables")
    args = ap.parse_args()
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: engine package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    # SIGTERM unwinds like an exception, so the child is stopped and
    # the scratch root removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + DEADLINE_S
    scratch = HERE / f".scratch-{os.getpid()}"
    try:
        plain = run_child(args, False, scratch / "plain", deadline, None)
        runs = [plain]
        if args.trace:
            out_dir = HERE / "out"
            out_dir.mkdir(exist_ok=True)
            spans = out_dir / f"spans-{args.workload}-seed{args.seed}.json"
            traced = run_child(args, True, scratch / "traced", deadline, spans)
            runs.append(traced)
            metrics = dict(traced["per_layer"])
            base = plain["api_p50_ms"]
            with_trace = traced["api_p50_ms"]
            metrics["harness.tracing_overhead_pct"] = (
                (with_trace - base) / base * 100.0 if base else 0.0,
                "%",
            )
        else:
            metrics = plain["end_to_end"]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    failures = [f for r in runs for f in r["failures"]]
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    for r in runs:
        print(f"perfbench: samples {r['samples']}", file=sys.stderr)
    result = {
        "correct": not failures,
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
