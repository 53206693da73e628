#!/usr/bin/env python
"""Per-query micro-bench: time NAMED registry queries with the noop
sink in one warmed session (bench.warm_session), print
per-query samples + median, and optionally dump the formatted plan
to plans/<dir>/<name>_<tag>.txt.

Every sample starts from a cleared cache (bench.time_query, as in
bench.py): an intra-query .cache() populated by sample 1 would serve
samples 2..n warm and the median would flatter exactly the
shared-pass optimizations this tool is meant to judge.

Usage:
    python tools/qbench.py [--n 5] [--sf /root/testdata/sf0.1] \
        [--plans before|after] [--plans-dir r13] name [name ...]
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query, warm_session  # noqa: E402
from real_time_data_analytics_cassandra_spark import queries as q  # noqa: E402
from real_time_data_analytics_cassandra_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    n = 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plans_tag = None
    plans_sub = "r13"
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--n":
            n = int(args[i + 1]); i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif args[i] == "--plans":
            plans_tag = args[i + 1]; i += 2
        elif args[i] == "--plans-dir":
            plans_sub = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1

    spark = get_spark(app_name="rtdac-qbench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = q.queries()

    warm_session(spark, sf_dir)

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        plans_sub,
    )
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"qbench:{name}")
        if plans_tag:
            os.makedirs(plans_dir, exist_ok=True)
            df = registry[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(plans_dir, f"{name}_{plans_tag}.txt"), "w"
            ) as f:
                f.write(plan)
        times = [
            round(time_query(spark, registry, name, sf_dir), 3) for _ in range(n)
        ]
        out[name] = {
            "samples": times,
            "median": round(statistics.median(times), 3),
            "min": min(times),
        }
        print(f"{name}: med={out[name]['median']} min={out[name]['min']} {times}", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
