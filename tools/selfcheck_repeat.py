#!/usr/bin/env python
"""Repeat-invocation self-consistency sweep: run EVERY registry query
TWICE in one session and require bit-identical results.

    python tools/selfcheck_repeat.py [--sf DIR]   # default sf0.001

What this catches that the oracle parity sweep cannot:

- fixture state leakage: queries that build persisted fixtures
  (streamed/incremental indexes, snapshot tables, AMQP dumps) must
  return the same answer when the fixture already exists as when they
  created it — a second in-session invocation exercises exactly the
  "warm fixture" path the parity sweep's single pass never sees;
- nondeterminism: any query whose output depends on partition
  iteration order, unseeded sampling, or wall-clock time will differ
  across back-to-back runs even though a single run can hash-match a
  similarly-nondeterministic oracle by luck.

Comparison: the driver protocol of tools/oracle_check.py.  Writes
SELFCHECK_sf<X>.json; exits nonzero on any inconsistency.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.oracle_check import first_mismatch, hostile_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default="/root/testdata/sf0.001", help="testdata dir")
    sf = ap.parse_args().sf
    out = os.path.join(REPO, f"SELFCHECK_sf{sf.rsplit('sf', 1)[-1]}.json")

    spark = hostile_session()
    import __spark_entry__ as m

    Q = m.queries()
    results: dict[str, dict] = {}
    t_start = time.monotonic()
    for name in sorted(Q):
        row: dict = {}
        try:
            first = Q[name](spark, sf).toPandas()
            second = Q[name](spark, sf).toPandas()
            row["rows"] = int(len(first))
            diff = first_mismatch(first, second)
            row["status"] = "consistent" if diff is None else "inconsistent"
            if diff is not None:
                row["first_diff"] = diff
                print(f"  FAIL {name}: {diff}", file=sys.stderr)
            else:
                print(f"  OK {name}: {len(first)}", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 - sweep must finish
            row["status"] = "error"
            row["error"] = f"{type(e).__name__}: {e}"[:400]
            print(f"  ERROR {name}: {row['error'][:150]}", file=sys.stderr)
        results[name] = row

    n_ok = sum(1 for r in results.values() if r.get("status") == "consistent")
    n_bad = len(results) - n_ok
    payload = {
        "sf_dir": sf,
        "protocol": (
            "two invocations per query in one session; sorted columns/rows, "
            "exact value equality"
        ),
        "total_queries": len(results),
        "consistent": n_ok,
        "failed": n_bad,
        "wall_clock_sec": round(time.monotonic() - t_start, 1),
        "results": results,
    }
    with open(out, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {out}: {n_ok}/{len(results)} consistent, {n_bad} failed")
    spark.stop()
    if n_bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
