"""Expected route responses, computed by DuckDB over the same parquet.

Each function returns what the matching Flask route must answer,
as the parsed JSON body; comparison is exact (no float tolerance).
"""

from __future__ import annotations

import duckdb

ISO = "'%Y-%m-%dT%H:%M:%S'"


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet/*.parquet')")
    for t in ("customer", "nation", "region"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _rows(con: duckdb.DuckDBPyConnection, sql: str, params: list) -> list[dict]:
    cur = con.execute(sql, params)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


def expected(con: duckdb.DuckDBPyConnection, route: str, params: tuple, spark_version: str):
    """(status code, body) the route must return for ``params``."""
    if route == "latest_info":
        rows = _rows(
            con,
            f"SELECT event_id, event_type, props, strftime(ts, {ISO}) AS ts, user_id, value "
            "FROM events WHERE user_id = ? ORDER BY events.ts DESC, event_id DESC LIMIT 1",
            [params[0]],
        )
        return (200, rows[0]) if rows else (404, {"error": "not found"})
    if route == "global_recent":
        return 200, _rows(
            con,
            f"SELECT event_id, event_type, props, strftime(ts, {ISO}) AS ts, user_id, value "
            "FROM events WHERE event_type = 'signup' ORDER BY events.ts DESC, event_id LIMIT ?",
            [params[0]],
        )
    if route == "geo_distribution":
        hb = con.sql("SELECT strftime(max(ts), '%Y%m%d%H') FROM events").fetchone()[0]
        cities = _rows(
            con,
            "SELECT coalesce(n.n_name, 'Unknown') AS city, "
            "coalesce(r.r_name, 'Unknown') AS country_region_name, "
            "strftime(e.ts, '%Y%m%d%H') AS hour_bucket, count(*) AS new_customers_count "
            "FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey "
            "LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "LEFT JOIN region r ON n.n_regionkey = r.r_regionkey "
            "WHERE e.event_type = 'signup' AND strftime(e.ts, '%Y%m%d%H') = ? "
            "GROUP BY 1, 2, 3 HAVING country_region_name = ? ORDER BY city",
            [hb, params[0]],
        )
        return 200, {
            "country": params[0],
            "hour_bucket": hb,
            "cities": cities,
            "total_new_customers": sum(c["new_customers_count"] for c in cities),
        }
    if route == "new_count":
        fmt = {
            "hourly": "strftime(ts, '%Y%m%d%H')",
            "daily": "strftime(ts, '%Y%m%d')",
            "5min": "strftime(ts, '%Y%m%d%H') || lpad(CAST((minute(ts) // 5) * 5 AS VARCHAR), 2, '0')",
        }[params[0]]
        rows = _rows(
            con,
            f"SELECT '{params[0]}:' || {fmt} AS time_bucket, count(*) AS n FROM events "
            "WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1 DESC LIMIT 1",
            [],
        )
        return 200, {
            "period": params[0],
            "time_bucket": rows[0]["time_bucket"] if rows else None,
            "count": rows[0]["n"] if rows else 0,
        }
    if route == "recent_by_category":
        items = _rows(
            con,
            f"SELECT strftime(ts, {ISO}) AS addition_timestamp, event_id, event_type, "
            "rn, user_id, value FROM (SELECT *, row_number() OVER "
            "(ORDER BY ts DESC, event_id) AS rn FROM events WHERE event_type = ?) "
            "WHERE rn <= 10 ORDER BY rn",
            [params[0]],
        )
        if not items:
            return 404, {"error": f"unknown category: {params[0]}"}
        return 200, {"category": params[0], "items": items}
    return 200, {"status": "ok", "engine": "spark", "spark_version": spark_version}
