"""REST/JSON API façade — surface parity with the reference's Flask
endpoints (realtime_api.py:82-322, SURVEY.md §2.9).

The engine's query layer returns DataFrames; this module is the thin
result-shaping boundary: parameter validation (the reference's P9
checks, realtime_api.py:137-138, 252-253, 274-275), ISO-8601
serialization (S7/F7, realtime_api.py:103-121), and dict-shaped
responses.  ``create_flask_app`` wires the same methods onto the five
HTTP routes when Flask is importable (it is not a baked-in dependency
— the engine works without it).

Determinism: the reference computes "current hour" from wall clock
(realtime_api.py:66-78); here the reference instant defaults to
max(ts) in the data (SURVEY.md §5.3) and can be passed explicitly.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_analytics_cassandra_spark import queries as q
from real_time_data_analytics_cassandra_spark.catalog import table
from real_time_data_analytics_cassandra_spark.functions.buckets import hour_bucket
from real_time_data_analytics_cassandra_spark.operators import topk as topk_op
from real_time_data_analytics_cassandra_spark.session import ensure_query_confs

VALID_PERIODS = ("hourly", "daily", "5min")


def _iso_rows(df: DataFrame) -> list[dict[str, Any]]:
    """Serialize a (small, already-limited) result: timestamps to
    ISO-8601 strings, Rows to dicts — the reference's _asdict +
    isoformat loop (realtime_api.py:103-121)."""
    out = df
    for field in df.schema.fields:
        if field.dataType.typeName() in ("timestamp", "timestamp_ntz"):
            out = out.withColumn(
                field.name, F.date_format(field.name, "yyyy-MM-dd'T'HH:mm:ss")
            )
        elif field.dataType.typeName() == "date":
            out = out.withColumn(field.name, F.date_format(field.name, "yyyy-MM-dd"))
    return [row.asDict() for row in out.collect()]


class AnalyticsApi:
    """The five read endpoints over the engine's query layer."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = ensure_query_confs(spark)
        self.sf_dir = sf_dir

    # GET /api/v1/customers/latest_info/<key>   (realtime_api.py:91-126)
    def latest_info(self, user_id: int) -> dict[str, Any] | None:
        from real_time_data_analytics_cassandra_spark.operators.latest import (
            latest_per_key,
        )

        events = table(self.spark, self.sf_dir, "events").filter(
            F.col("user_id") == int(user_id)
        )
        rows = _iso_rows(latest_per_key(events, ["user_id"], "ts", ["event_id"]))
        return rows[0] if rows else None

    # GET /api/v1/customers/global_recent?limit=N  (realtime_api.py:128-187)
    def global_recent(self, limit: int = 10) -> list[dict[str, Any]]:
        if limit <= 0:
            raise ValueError("limit must be a positive integer")
        events = table(self.spark, self.sf_dir, "events").filter(
            F.col("event_type") == "signup"
        )
        return _iso_rows(topk_op.global_top_n(events, "ts", int(limit), ["event_id"]))

    # GET /api/v1/customers/geo_distribution_hourly_by_country/<country>
    # (realtime_api.py:192-228)
    def geo_distribution(
        self, country: str, hour_bucket_str: str | None = None
    ) -> dict[str, Any]:
        per_city = q.geo_hourly_counts(self.spark, self.sf_dir).filter(
            F.col("country_region_name") == country
        )
        if hour_bucket_str is None:
            events = table(self.spark, self.sf_dir, "events")
            hour_bucket_str = events.agg(
                hour_bucket(F.max("ts")).alias("hb")
            ).collect()[0]["hb"]
        cities = _iso_rows(
            per_city.filter(F.col("hour_bucket") == hour_bucket_str).orderBy("city")
        )
        return {
            "country": country,
            "hour_bucket": hour_bucket_str,
            "cities": cities,
            # the read-side SUM over group rows (realtime_api.py:218)
            "total_new_customers": sum(c["new_customers_count"] for c in cities),
        }

    # GET /api/v1/products/new_count?period=...  (realtime_api.py:230-269)
    def new_count(self, period: str = "hourly") -> dict[str, Any]:
        if period not in VALID_PERIODS:
            raise ValueError(f"period must be one of {VALID_PERIODS}")
        counts = q.new_count_multi_granularity(self.spark, self.sf_dir)
        # "current" bucket of the requested granularity, from max(ts)
        latest = (
            counts.filter(F.col("time_bucket").startswith(f"{period}:"))
            .orderBy(F.desc("time_bucket"))
            .limit(1)
        )
        rows = _iso_rows(latest)
        return {
            "period": period,
            "time_bucket": rows[0]["time_bucket"] if rows else None,
            "count": int(rows[0]["product_count"]) if rows else 0,
        }

    # GET /api/v1/products/recent_by_category/<key>  (realtime_api.py:271-322)
    def recent_by_category(self, category: str) -> dict[str, Any]:
        recent = q.recent_by_category(self.spark, self.sf_dir).filter(
            F.col("event_type") == category
        )
        rows = _iso_rows(recent.orderBy("rn"))
        if not rows:
            raise ValueError(f"unknown category: {category}")
        return {"category": category, "items": rows}

    # GET /api/v1/status  (realtime_api.py:82-89)
    def status(self) -> dict[str, Any]:
        ok = True
        try:
            table(self.spark, self.sf_dir, "events").limit(1).count()
        except Exception:
            ok = False
        return {
            "status": "ok" if ok else "degraded",
            "engine": "spark",
            "spark_version": self.spark.version,
        }


def create_flask_app(spark: SparkSession, sf_dir: str):
    """Optional HTTP layer (route shapes mirror realtime_api.py).
    Flask is not a baked-in dependency; import-gated."""
    try:
        from flask import Flask, jsonify, request
    except ImportError as exc:  # pragma: no cover
        raise RuntimeError("Flask is not installed; use AnalyticsApi directly") from exc

    api = AnalyticsApi(spark, sf_dir)
    app = Flask("real_time_data_analytics_cassandra_spark")

    @app.route("/api/v1/customers/latest_info/<int:user_id>")
    def latest_info(user_id: int):
        row = api.latest_info(user_id)
        return (jsonify(row), 200) if row else (jsonify({"error": "not found"}), 404)

    @app.route("/api/v1/customers/global_recent")
    def global_recent():
        try:
            return jsonify(api.global_recent(int(request.args.get("limit", 10))))
        except ValueError as e:
            return jsonify({"error": str(e)}), 400

    @app.route("/api/v1/customers/geo_distribution_hourly_by_country/<country>")
    def geo_distribution(country: str):
        return jsonify(api.geo_distribution(country))

    @app.route("/api/v1/products/new_count")
    def new_count():
        try:
            return jsonify(api.new_count(request.args.get("period", "hourly")))
        except ValueError as e:
            return jsonify({"error": str(e)}), 400

    @app.route("/api/v1/products/recent_by_category/<category>")
    def recent(category: str):
        try:
            return jsonify(api.recent_by_category(category))
        except ValueError as e:
            return jsonify({"error": str(e)}), 404

    @app.route("/api/v1/status")
    def status():
        return jsonify(api.status())

    # ---- registry superset (beyond the reference's five routes) ----
    # every registered analytics query over REST: list + execute with
    # a bounded row limit.  The result shaping reuses _iso_rows, so
    # timestamps serialize exactly like the parity endpoints.
    @app.route("/api/v1/queries")
    def list_queries():
        names = sorted(q.queries())
        oracles = set(q.oracle_sql())
        side = q.side_effectful_queries()
        return jsonify(
            [
                {
                    "name": n,
                    "oracle_gated": n in oracles,
                    "side_effectful": n in side,
                }
                for n in names
            ]
        )

    @app.route("/api/v1/query/<name>")
    def run_query(name: str):
        registry = q.queries()
        if name not in registry:
            return jsonify({"error": f"unknown query {name!r}"}), 404
        # the [1, 1000] limit bounds RETURNED rows, not compute:
        # streaming/snapshot queries would start a streaming job and
        # commit a scratch table per request — refuse them here (they
        # are listed with side_effectful=true in /api/v1/queries)
        if name in q.side_effectful_queries():
            return (
                jsonify(
                    {
                        "error": f"query {name!r} starts streaming jobs or "
                        "writes scratch tables; not executable over REST"
                    }
                ),
                400,
            )
        try:
            limit = int(request.args.get("limit", 100))
        except ValueError:
            return jsonify({"error": "limit must be an integer"}), 400
        if not 1 <= limit <= 1000:
            return jsonify({"error": "limit must be in [1, 1000]"}), 400
        df = registry[name](spark, sf_dir).limit(limit)
        return jsonify({"query": name, "rows": _iso_rows(df)})

    return app
