#!/usr/bin/env python
"""Remove per-run SCRATCH directories under the temp dir without
touching the FIXTURE cache.

Why this exists: a round-6 investigation found bench totals inflating
~15% over a day of reruns; deleting ~1.6k accumulated scratch dirs
(streaming checkpoints, state stores, one-shot sink targets) restored
them (278 s -> 238 s at sf0.1, median per-query ratio back to ~1.07 of
the fresh-machine run).  Scratch is written by ``tempfile.mkdtemp`` and
never reused across invocations.  Fixtures (indexes, bus dumps,
snapshot and pair tables, stream staging, the derived sf1 dataset) all
live under ONE root, ``rtdac_fixtures/`` (see
real_time_data_analytics_cassandra_spark/fixture_cache.py), which
bench.py deliberately reuses so their one-time build stays outside
timed sections — deleting it silently moves the build INTO the next
run's timings (observed: streaming_incremental_index +15 s).  Inside
that root only crash-leaked ``*.stage-*`` build directories are
removed.  No scratch prefix matches the root or ``rtdac_pb_shim``
(the test suite's protobuf import shim); unknown ``rtdac_*`` names,
old-layout fixture directories included, are kept conservatively.

Run before bench.py (step 7 of the README end-of-round checklist).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from real_time_data_analytics_cassandra_spark.fixture_cache import ROOT  # noqa: E402

# mkdtemp(prefix=...) call sites — per-run scratch, safe to remove when
# no query is running.  tests/test_clean_scratch.py checks that every
# such literal in the package and tests/ starts with one of these, and
# that each of these still has a producer.
SCRATCH_PREFIXES = (
    "rtdac_annappend_",
    "rtdac_annfresh_",
    "rtdac_annidx_",
    "rtdac_ckpt_",  # every stream checkpoint and fold-into-table scratch
    "rtdac_corrtest_",
    "rtdac_sketch_stream_",
    "rtdac_sketch_tbl_",
    "rtdac_span_stream_",
)


def main() -> None:
    tmp = Path(tempfile.gettempdir())
    doomed = list((tmp / ROOT).glob("*.stage-*"))
    kept = 0
    for d in tmp.glob("rtdac_*"):
        if d.name.startswith(SCRATCH_PREFIXES):
            doomed.append(d)
        else:
            kept += 1  # the fixture root, the shim, or unknown: keep
    for d in doomed:
        shutil.rmtree(d, ignore_errors=True)
    print(f"removed {len(doomed)} scratch dirs, kept {kept}", file=sys.stderr)


if __name__ == "__main__":
    main()
