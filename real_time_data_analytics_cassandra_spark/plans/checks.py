"""Physical-plan assertions.

The 100 TB posture is only real if the plans stay right: filters
pushed to the parquet scan, small dims broadcast, expressions inside
whole-stage codegen.  Tests assert these invariants so a refactor
that silently degrades a plan (e.g. a broadcast falling back to a
shuffle join) fails CI rather than a future cluster bill.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from real_time_data_analytics_cassandra_spark.session import conf_override


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from every parquet scan in the plan."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df) or "BroadcastNestedLoopJoin" in explain_str(df)


def wholestage_codegen_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen subtrees ('codegen' explain mode).

    AQE wraps the un-executed plan in AdaptiveSparkPlan, which reports
    zero codegen subtrees before runtime re-planning — temporarily
    disable AQE so physical planning materializes the codegen stages
    for inspection (the conf is restored afterwards; inspection only,
    execution still runs with AQE).
    """
    with conf_override(df.sparkSession, "spark.sql.adaptive.enabled", "false"):
        # note: queryExecution memoizes the physical plan on first
        # access, so call this before other explain helpers on the
        # same DataFrame
        text = explain_str(df, "codegen")
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", text)
    return int(m.group(1)) if m else 0


def operator_count(df: DataFrame, op_name: str) -> int:
    """Occurrences of a physical operator in the plan TREE (formatted
    explain repeats each node in the details section; counting raw
    substrings would double-count)."""
    tree = explain_str(df).split("\n\n")[0]
    return len(re.findall(rf"\b{re.escape(op_name)}\b", tree))


def scan_count(df: DataFrame, table_name: str) -> int:
    """Number of parquet scans of a given table in the physical plan —
    asserts exchange reuse: a fact consumed by two aggregations
    should appear as ONE scan + a ReusedExchange, not two scans.

    Parses the formatted-explain DETAILS blocks ('(n) Scan parquet' +
    its Location line); the tree section doesn't name the file.  AQE
    defers exchange reuse to runtime (the pre-execution adaptive plan
    still shows both subtrees), so planning is inspected with AQE off
    — same restore discipline as wholestage_codegen_count."""
    with conf_override(df.sparkSession, "spark.sql.adaptive.enabled", "false"):
        text = explain_str(df)
    # one chunk per '(n) Scan parquet' details block (anchored at line
    # start — the first block can share a split chunk with the tree)
    chunks = re.findall(
        r"^\(\d+\) Scan parquet.*?(?=\n\n|\Z)", text, re.M | re.S
    )
    return sum(1 for c in chunks if table_name in c)


def python_eval_free(df: DataFrame) -> bool:
    """True when no row-at-a-time Python evaluation is in the plan
    (Arrow-batched pandas stages report as ArrowEvalPython/MapInPandas
    and are allowed)."""
    return "BatchEvalPython" not in explain_str(df)


def unpartitioned_window_count(df: DataFrame) -> int:
    """Number of window specs in the physical plan whose PARTITION BY
    list is empty — each one funnels its whole input relation through
    a single task, the canonical distributed-sort scale-killer.

    A plan-wide zero is the default posture; the registry hygiene
    sweep allows named exceptions only where the windowed relation is
    bounded by CONSTRUCTION (a <= num_partitions offset table, a
    literal resample count, the calendar) — the allowlist documents
    each bound.

    Detection: every ``windowspecdefinition(part..., order..., frame)``
    in the formatted plan; partition columns precede the first
    ordering argument (marked ASC/DESC) — if the first depth-0
    argument is an ordering or the frame itself, the spec has no
    partition key."""
    text = explain_str(df)
    count = 0
    for m in re.finditer(r"windowspecdefinition\(", text):
        depth, start, args = 1, m.end(), []
        i = start
        while i < len(text) and depth:
            ch = text[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    args.append(text[start:i])
            elif ch == "," and depth == 1:
                args.append(text[start:i])
                start = i + 1
            i += 1
        first = args[0].strip() if args else ""
        if (
            " ASC" in first
            or " DESC" in first
            or first.startswith("specifiedwindowframe")
        ):
            count += 1
    return count


def broadcast_scanned_tables(df: DataFrame) -> set[str]:
    """Tables whose parquet scan sits INSIDE a BroadcastExchange
    subtree of the (static) physical plan — the guard input for the
    fact-never-broadcast invariant: a dim subtree whose size estimate
    blows past the fact's can flip the planner into broadcasting the
    FACT (BuildLeft over lineitem was the round-8..10
    nation_trade_volume drift), which is catastrophic at production
    scale."""
    txt = explain_str(df)
    scan_tbl: dict[int, str] = {}
    for m in re.finditer(
        r"\((\d+)\) Scan parquet[\s\S]{0,500}?"
        r"Location: \S*?/(\w+)\.parquet",
        txt,
    ):
        scan_tbl[int(m.group(1))] = m.group(2)

    def depth(s: str) -> int:
        j = 0
        while j < len(s) and s[j] in " :+-":
            j += 1
        return j

    out: set[str] = set()
    lines = txt.split("\n\n")[0].splitlines()
    for i, ln in enumerate(lines):
        if "BroadcastExchange (" not in ln:
            continue
        d0 = depth(ln)
        for nxt in lines[i + 1 :]:
            if depth(nxt) <= d0:
                break
            sm = re.search(r"Scan parquet\s*\((\d+)\)", nxt)
            if sm and int(sm.group(1)) in scan_tbl:
                out.add(scan_tbl[int(sm.group(1))])
    return out
