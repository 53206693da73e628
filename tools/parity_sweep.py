#!/usr/bin/env python
"""Driver-emulating oracle parity sweep: run registry queries against
their DuckDB oracles under a HOSTILE driver-like session (non-UTC
timezone, 200 shuffle partitions, no pre-set confs), after the
`entry(spark)` smoke the driver runs first.

    python tools/parity_sweep.py [--sf DIR] [name ...]

With no names it sweeps the whole registry and writes
PARITY_sf<X>.json — the committed evidence that every oracle-backed
query matches at the driver's scale factor (sf0.01, the default; the
in-repo pytest gate runs at sf0.001).  With names it checks only those
and writes nothing, so a subset run never overwrites the full-sweep
evidence.  Prints one OK/ROWSONLY/FAIL/ERROR line per query and exits
non-zero on any failure.

Why the full sweep exists: the external driver samples only ~50
queries per round, so without it some oracle-backed queries would go
rounds without a driver-scale check.  Compare protocol:
tools/oracle_check.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.oracle_check import duck, first_mismatch, hostile_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="testdata dir")
    ap.add_argument("names", nargs="*", help="queries to check (default: all)")
    args = ap.parse_args()
    sf = args.sf

    spark = hostile_session()
    import __spark_entry__ as m

    n = m.entry(spark).count()
    print(f"SMOKE entry rows: {n}", flush=True)
    if n == 0:
        sys.exit("entry(spark) returned no rows")

    Q, O = m.queries(), m.oracle_sql()
    con = duck(sf)
    results: dict[str, dict] = {}
    t_start = time.monotonic()
    for name in args.names or sorted(Q):
        row: dict = {}
        try:
            sdf = Q[name](spark, sf).toPandas()
            row["spark_rows"] = int(len(sdf))
            if name not in O:
                row["status"] = "rows_only_no_oracle"
                print(f"ROWSONLY {name}: {len(sdf)}", flush=True)
            else:
                odf = con.sql(O[name]).df()
                row["oracle_rows"] = int(len(odf))
                row["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
                row["rows_match"] = len(sdf) == len(odf)
                bad = first_mismatch(sdf, odf)
                if row["schema_match"] and row["rows_match"]:
                    row["values_match"] = bad is None
                row["status"] = "match" if bad is None else "mismatch"
                if bad:
                    row["first_mismatch"] = bad
                    print(f"FAIL {name}: {bad[:300]}", flush=True)
                else:
                    print(f"OK {name}: {len(sdf)}", flush=True)
        except Exception as e:  # noqa: BLE001 - sweep must finish
            row["status"] = "error"
            row["error"] = f"{type(e).__name__}: {e}"[:400]
            print(f"ERROR {name}: {row['error'][:150]}", flush=True)
        results[name] = row

    n_match = sum(1 for r in results.values() if r["status"] == "match")
    n_rows_only = sum(
        1 for r in results.values() if r["status"] == "rows_only_no_oracle"
    )
    n_bad = len(results) - n_match - n_rows_only
    summary = (
        f"{n_match}/{len(results) - n_rows_only} oracle-backed matched, "
        f"{n_rows_only} rows-only, {n_bad} failed"
    )
    if args.names:
        print(summary)
    else:
        out = os.path.join(REPO, f"PARITY_sf{sf.rsplit('sf', 1)[-1]}.json")
        payload = {
            "sf_dir": sf,
            "protocol": "driver (sorted columns/rows, exact value equality)",
            "total_queries": len(results),
            "oracle_backed": len(results) - n_rows_only,
            "matched": n_match,
            "rows_only": n_rows_only,
            "failed": n_bad,
            "wall_clock_sec": round(time.monotonic() - t_start, 1),
            "results": results,
        }
        with open(out, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {out}: {summary}")
    con.close()
    spark.stop()
    if n_bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
