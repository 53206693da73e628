"""One measured run of one workload, in its own process.

run.py starts this script with the environment already set (see
run.py) and reads the JSON object it prints last.  The engine is
driven only through its public surface: the Flask routes of
``api.create_flask_app`` (in-process test client) and
``streaming.pipelines.multicast_foreach_batch``.

Both workloads are the paper's system, a subscriber fanning bus events
out to derived tables while dashboard users poll REST reads, at two
mixes:

- ``dashboard``: three read workers under an open loop of dashboard
  requests, beside a light stream of small event shards;
- ``ingest_serve``: heavy event ingest, beside two read workers at a
  lower open-loop rate.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import math
import os
import queue
import threading
import time
from dataclasses import dataclass
from pathlib import Path

import pyarrow.parquet as pq

import check
import gen
import tracing

SF = 0.1


@dataclass(frozen=True)
class Workload:
    read_rate: float  # requests per second, open loop
    read_workers: int
    shard_rate: float  # shards per second, open loop
    shard_events: int


WORKLOADS = {
    "dashboard": Workload(read_rate=1.2, read_workers=3, shard_rate=5.0, shard_events=10),
    "ingest_serve": Workload(read_rate=1.0, read_workers=2, shard_rate=5.0, shard_events=100),
}
WARM_LOAD_S = 2.0
# Ingest runs as a processing-time trigger with this period.  A step
# takes 1-2 s on a 4-core host, so the stream seldom runs back to back:
# a back-to-back loop saturated that host and spread the latency
# figures by 15-25% between runs.
INGEST_PERIOD_S = 3.0
DRIVER_MEMORY = "1g"
QUERY_BUILDERS = ("geo_hourly_counts", "new_count_multi_granularity", "recent_by_category")


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]); 0.0 when empty."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def route_median(by_route: dict[str, list[float]]) -> float:
    """Geometric mean over routes of each route's median.  Routes
    differ in latency several-fold, so the median of the pooled
    latencies jumps with the few requests near a band edge; this one
    weighs a relative change of any route alike."""
    per_route = [quantile(v, 0.5) for v in by_route.values() if v]
    if not per_route:
        return 0.0
    return math.exp(sum(map(math.log, per_route)) / len(per_route))


def sleep_until(t: float) -> None:
    delay = t - time.perf_counter()
    if delay > 0:
        time.sleep(delay)


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus its JVM child."""

    def hwm_kb(pid: int) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    me = os.getpid()
    total = hwm_kb(me)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{entry}/comm") as fh:
                comm = fh.read().strip()
            if ppid == me and comm == "java":
                total += hwm_kb(int(entry))
        except (OSError, ValueError, IndexError):
            continue
    return total / 1024.0


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Ingest:
    """Lands event shards in a directory and runs the multicast
    pipeline (availableNow) over whatever has landed."""

    def __init__(self, spark, scratch: Path, tracer: tracing.Tracer):
        from pyspark.sql import types as T

        from real_time_data_analytics_cassandra_spark.streaming import pipelines

        self.pipelines = pipelines
        self.tracer = tracer
        self.landing = scratch / "landing"
        self.out_dir = scratch / "views"
        self.ckpt = scratch / "ckpt"
        self.landing.mkdir()
        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
        self.stream = spark.readStream.schema(schema).parquet(str(self.landing))
        self.shards: dict[str, dict] = {}  # file name -> shard record
        self.seen: set[str] = set()
        self.lock = threading.Lock()
        self.batches: list[dict] = []

    @property
    def event_log(self) -> Path:
        return self.out_dir / "event_log"

    def land(self, name: str, table, due: float, timed: bool) -> None:
        """Write a shard, then rename it into the landing directory so
        the stream never lists a half-written file."""
        tmp = self.landing / f".{name}"
        pq.write_table(table, tmp)
        rec = {"due": due, "landed": time.time(), "rows": table.num_rows, "timed": timed}
        with self.lock:
            self.shards[name] = rec
        os.rename(tmp, self.landing / name)

    def waiting(self) -> int:
        with self.lock:
            return len(self.shards) - len(self.seen)

    def step(self, group: str) -> None:
        started = time.time()
        with self.tracer.span("streaming.multicast", group=group):
            sq = self.pipelines.multicast_foreach_batch(
                self.stream, str(self.out_dir), str(self.ckpt)
            )
            sq.awaitTermination()
        for p in sq.recentProgress:
            prog = json.loads(p.json)
            files = self._batch_files(prog["batchId"])
            begun = _epoch(prog["timestamp"])
            batch = {
                "query_id": sq.id,
                "batch": prog["batchId"],
                "group": group,
                "rows": prog["numInputRows"],
                "committed": begun + prog["durationMs"]["triggerExecution"] / 1000.0,
                "duration_ms": prog["durationMs"],
                "start_ms": (begun - started) * 1000.0,
            }
            self.batches.append(batch)
            with self.lock:
                for f in files:
                    self.seen.add(f)
                    self.shards[f]["committed"] = batch["committed"]
                    self.shards[f]["step_started"] = started

    def _batch_files(self, batch_id: int) -> list[str]:
        """File names a micro-batch read, from the source's file log
        (every tenth batch's entry is a compaction of all before it)."""
        log = self.ckpt / "sources" / "0" / str(batch_id)
        if not log.exists():
            log = log.with_name(f"{batch_id}.compact")
        with open(log) as fh:
            entries = [json.loads(x) for x in fh.read().splitlines()[1:] if x.strip()]
        return [Path(e["path"]).name for e in entries if e["batchId"] == batch_id]


class Reads:
    """One dispatcher puts each scheduled request on a queue at its due
    time; ``workers`` threads serve the queue through the Flask test
    client."""

    def __init__(self, app, spark, tracer: tracing.Tracer, workers: int):
        self.app = app
        self.spark = spark
        self.tracer = tracer
        self.workers = workers
        self.records: list[dict] = []
        self.lags: list[float] = []

    def call(self, client, route: str, url: str, group: str):
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(group, route)
        with self.tracer.span(f"route:{route}", group=group):
            resp = client.get(url)
        return resp.status_code, resp.get_json()

    def start(self, schedule: list[gen.Request], t0: float, timed_from_s: float) -> list[threading.Thread]:
        q: queue.Queue = queue.Queue()

        def dispatch():
            for j, req in enumerate(schedule):
                due = t0 + req.due_s
                sleep_until(due)
                self.lags.append(time.perf_counter() - due)
                q.put((j, req, due))
            for _ in range(self.workers):
                q.put(None)

        def serve():
            client = self.app.test_client()
            while (item := q.get()) is not None:
                j, req, due = item
                try:
                    status, _ = self.call(client, req.route, req.url, f"req-{j}")
                except Exception as exc:  # a failed request is counted, not fatal
                    status = repr(exc)
                end = time.perf_counter()
                self.records.append(
                    {
                        "j": j,
                        "route": req.route,
                        "status": status,
                        "latency": end - due,
                        "timed": req.due_s >= timed_from_s,
                    }
                )

        threads = [threading.Thread(target=dispatch, name="dispatch")]
        threads += [threading.Thread(target=serve, name=f"read-{i}") for i in range(self.workers)]
        for t in threads:
            t.start()
        return threads


def patch_layers(tracer: tracing.Tracer) -> None:
    from real_time_data_analytics_cassandra_spark import api, catalog
    from real_time_data_analytics_cassandra_spark import queries as q

    tracer.patch_everywhere(catalog, "table", "catalog.table")
    tracer.patch_everywhere(catalog, "spread", "catalog.spread")
    for name in QUERY_BUILDERS:
        tracer.patch(q, name, f"queries.{name}")
    for route in gen.ROUTES:
        tracer.patch(api.AnalyticsApi, route, f"api.{route}")


def set_up(spark, root: Path, tables: dict, wl: Workload, checks: list, tracer: tracing.Tracer):
    """Set-up after the session has started: the fixtures, the Flask
    app over them, and one shard through the pipeline while every route
    is called once, each on its own thread.  The committed log starts
    from the first half of the events."""
    from real_time_data_analytics_cassandra_spark.api import create_flask_app

    events = tables["events"]
    half = events.num_rows // 2
    sf_dir = root / "sf"
    sf_dir.mkdir(parents=True)
    for name in ("customer", "nation", "region"):
        pq.write_table(tables[name], sf_dir / f"{name}.parquet")
    ingest = Ingest(spark, root, tracer)
    (sf_dir / "events.parquet").symlink_to(ingest.event_log, target_is_directory=True)
    ingest.event_log.mkdir(parents=True)
    pq.write_table(events.slice(0, half - wl.shard_events), ingest.event_log / "part-seed.parquet")
    reads = Reads(create_flask_app(spark, str(sf_dir)), spark, tracer, wl.read_workers)
    warmers = [
        threading.Thread(
            target=reads.call,
            args=(reads.app.test_client(), req.route, req.url, f"warm-{req.route}"),
            name=f"warm-{req.route}",
        )
        for req in checks
    ]
    for th in warmers:
        th.start()
    ingest.land("seed.parquet", events.slice(half - wl.shard_events, wl.shard_events), time.time(), False)
    ingest.step("setup")
    for th in warmers:
        th.join()
    return ingest, reads, sf_dir


def run(workload: str, seed: int, seconds: float, traced: bool, scratch: Path, sf: float) -> dict:
    wl = WORKLOADS[workload]
    tables = gen.make_tables(seed, sf)
    events = tables["events"]
    half = events.num_rows // 2
    users = gen.ranked_users(seed, events.slice(0, half))
    checks = gen.check_requests(seed, users)
    shards = gen.ShardSource(events, half, wl.shard_events)

    from pyspark import __version__ as spark_version

    from real_time_data_analytics_cassandra_spark.session import get_spark

    tracer = tracing.Tracer(traced)
    # harness-only settings: a fixed driver heap, no console progress
    # bars, and the SQL warehouse inside the scratch root
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(scratch / "warehouse"),
    }
    if traced:
        (scratch / "eventlog").mkdir()
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (scratch / "eventlog").as_uri(),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        }
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_start = time.perf_counter() - t
    if traced:
        patch_layers(tracer)

    # setup_s is everything before the first timed operation: session
    # start plus the cold set-up, which holds the first micro-batch and
    # the first call of every route
    t = time.perf_counter()
    ingest, reads, sf_dir = set_up(spark, scratch / "setup", tables, wl, checks, tracer)
    warmup_s = time.perf_counter() - t
    setup_s = session_start + warmup_s

    # the open loop: shard generator, ingest loop and reads.  It runs
    # untimed for WARM_LOAD_S first, so the timed section starts in the
    # steady state.
    total = WARM_LOAD_S + seconds
    schedule = gen.request_schedule(seed, wl.read_rate, total, users)
    t0 = time.perf_counter() + 0.05
    t0_epoch = time.time() + (t0 - time.perf_counter())
    timed_from = t0_epoch + WARM_LOAD_S
    gen_lags: list[float] = []
    ingest_errors: list[str] = []

    def generate():
        for i in range(int(total * wl.shard_rate)):
            due_s = i / wl.shard_rate
            sleep_until(t0 + due_s)
            gen_lags.append(time.perf_counter() - t0 - due_s)
            ingest.land(f"shard-{i:06d}.parquet", shards.shard(i), t0_epoch + due_s, due_s >= WARM_LOAD_S)

    def ingest_loop():
        # a processing-time trigger as Spark runs one: ticks every
        # INGEST_PERIOD_S, half a shard interval after a shard was due,
        # each running one step over whatever has landed.  The next
        # tick is the first after the step started, so a step that
        # overruns is followed at once, not at the tick after its end,
        # which made freshness jump by a period between runs.
        first_tick = t0 + 0.5 / wl.shard_rate
        next_tick = first_tick
        k = 0
        while True:
            sleep_until(next_tick)
            ticks = math.floor((time.perf_counter() - first_tick) / INGEST_PERIOD_S) + 1
            next_tick = first_tick + ticks * INGEST_PERIOD_S
            if ingest.waiting():
                try:
                    ingest.step(f"ingest-{k}")
                except Exception as exc:  # counted as a failed ingest step
                    ingest_errors.append(repr(exc))
                    return
                k += 1
            elif not generator.is_alive():
                return

    generator = threading.Thread(target=generate, name="generator")
    ingester = threading.Thread(target=ingest_loop, name="ingest")
    generator.start()
    ingester.start()
    read_threads = reads.start(schedule, t0, WARM_LOAD_S)
    for th in [generator, *read_threads, ingester]:
        th.join()

    # checks, outside the timed section: every route against DuckDB
    # over the committed event log
    failures = [f"ingest: {e}" for e in ingest_errors]
    failures += [f"{r['route']} j={r['j']}: {r['status']}" for r in reads.records if r["status"] != 200]
    failures += [
        f"shard due {s['due']} never committed"
        for s in ingest.shards.values()
        if "committed" not in s
    ]
    con = check.connect(str(sf_dir))
    got = {}
    checkers = [
        threading.Thread(
            target=lambda req: got.__setitem__(
                req.url, reads.call(reads.app.test_client(), req.route, req.url, f"check-{req.route}")
            ),
            args=(req,),
        )
        for req in checks
    ]
    for th in checkers:
        th.start()
    for th in checkers:
        th.join()
    for req in checks:
        want = check.expected(con, req.route, req.params, spark_version)
        if got.get(req.url) != want:
            failures.append(f"check {req.url}: got {got.get(req.url)!r} want {want!r}")
    con.close()
    rss = peak_rss_mb()

    timed_reads = [r for r in reads.records if r["timed"]]
    by_route: dict[str, list[float]] = {}
    for r in timed_reads:
        if r["status"] == 200:
            by_route.setdefault(r["route"], []).append(r["latency"] * 1000)
    timed = [s for s in ingest.shards.values() if s["timed"]]
    fresh = [(s["committed"] - s["due"]) * 1000 for s in timed if "committed" in s]
    # steady-state ingest throughput: rows committed by the timed
    # section's micro-batches after its first, over the time between
    # the first and the last commit
    steady = sorted(
        (b for b in ingest.batches if b["group"] != "setup" and b["committed"] >= timed_from),
        key=lambda b: b["committed"],
    )
    span = steady[-1]["committed"] - steady[0]["committed"] if len(steady) > 1 else 0.0
    rate = sum(b["rows"] for b in steady[1:]) / span if span > 0 else 0.0
    result = {
        "attempted": len(schedule) + len(ingest.shards) + len(checks),
        "failed": len(failures),
        "failures": failures[:20],
        "samples": {"reads": sum(map(len, by_route.values())), "shards": len(fresh), "batches": len(steady)},
        # read latency is a per-layer metric: it tracks the host's speed,
        # which drifted by up to 40% within 20 minutes on a shared 4-core
        # host, and spread wider between runs than any bound allows
        "api_p50_ms": route_median(by_route),
        "end_to_end": {
            "setup_s": (setup_s, "s"),
            "freshness_p90_ms": (quantile(fresh, 0.9), "ms"),
            "ingest_events_per_s": (rate, "events/s"),
            "peak_rss_mb": (rss, "MB"),
        },
    }
    spark.stop()
    if traced:
        tracer.unpatch()
        (log_file,) = list((scratch / "eventlog").iterdir())
        jobs = tracing.parse_event_log(str(log_file))
        result["per_layer"] = per_layer(
            tracer, jobs, timed_reads, steady, timed, session_start, warmup_s, gen_lags + reads.lags
        ) | {"api.p50_ms": (result["api_p50_ms"], "ms")}
    return result, tracer


def per_layer(tracer, jobs, timed_reads, batches, timed_shards, session_start, warmup, lags) -> dict:
    """Per-layer metrics of the timed section, per read request or per
    micro-batch."""
    ok = {f"req-{r['j']}" for r in timed_reads if r["status"] == 200}
    n_reads = max(len(ok), 1)
    by_group: dict[str, list[dict]] = {}
    for job in jobs:
        by_group.setdefault(job["group"], []).append(job)
    spans = [s for s in tracer.spans if s["group"] in ok]

    def dur_ms(s):
        return (s["end"] - s["start"]) * 1000

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_start, "s"),
        "session.warmup_s": (warmup, "s"),
    }
    for name in ("catalog.table", "catalog.spread"):
        mine = [s for s in spans if s["name"] == name]
        m[f"{name}.calls"] = (len(mine) / n_reads, "count")
        m[f"{name}.ms"] = (sum(map(dur_ms, mine)) / n_reads, "ms")
    for name in QUERY_BUILDERS:
        mine = [s for s in spans if s["name"] == f"queries.{name}"]
        n = max(len(mine), 1)
        inside = [
            job
            for s in mine
            for job in by_group.get(s["group"], [])
            if s["start"] <= job["submit"] <= s["end"]
        ]
        m[f"queries.{name}.build_ms"] = (sum(map(dur_ms, mine)) / n, "ms")
        m[f"queries.{name}.build_jobs"] = (len(inside) / n, "count")
    methods = {(s["group"], s["name"]): s for s in spans if s["name"].startswith("api.")}
    overhead = []
    for route in gen.ROUTES:
        mine = [s for s in spans if s["name"] == f"route:{route}"]
        m[f"api.{route}.p50_ms"] = (quantile([dur_ms(s) for s in mine], 0.5), "ms")
        # jobs of the route's output-check call, made once ingest has
        # drained: under load, the job count of geo_distribution moves
        # with the data the stream has committed when the request runs
        m[f"api.{route}.jobs"] = (len(by_group.get(f"check-{route}", [])), "count")
        m[f"api.{route}.calls"] = (len(mine), "count")
        for s in mine:
            inner = methods.get((s["group"], f"api.{route}"))
            if inner:
                overhead.append(dur_ms(s) - dur_ms(inner))
    m["api.http_overhead_ms"] = (quantile(overhead, 0.5), "ms")

    m["streaming.batches"] = (len(batches), "count")
    m["streaming.rows_per_batch"] = (sum(b["rows"] for b in batches) / max(len(batches), 1), "count")
    m["streaming.start_ms"] = (quantile([b["start_ms"] for b in batches], 0.5), "ms")
    for key, name in (
        ("triggerExecution", "trigger_ms"),
        ("addBatch", "add_batch_ms"),
        ("queryPlanning", "query_planning_ms"),
        ("walCommit", "wal_commit_ms"),
        ("commitOffsets", "commit_offsets_ms"),
        ("latestOffset", "latest_offset_ms"),
    ):
        m[f"streaming.{name}"] = (quantile([b["duration_ms"].get(key, 0) for b in batches], 0.5), "ms")
    waits = [
        max(s["step_started"] - s["landed"], 0.0) * 1000
        for s in timed_shards
        if "step_started" in s
    ]
    m["ingest.queue_wait_ms"] = (quantile(waits, 0.5), "ms")

    def spark_totals(selected: list[dict], per: int, prefix: str) -> None:
        per = max(per, 1)
        m[f"{prefix}.jobs"] = (len(selected) / per, "count")
        for f in tracing.JOB_FIELDS:
            unit = "bytes" if f.endswith("bytes") else ("ms" if f.endswith("ms") else "count")
            m[f"{prefix}.{f}"] = (sum(j[f] for j in selected) / per, unit)
        run_ms = sum(j["task_run_ms"] for j in selected)
        cpu_ms = sum(j["task_cpu_ms"] for j in selected)
        m[f"{prefix}.off_cpu_share"] = (1 - cpu_ms / run_ms if run_ms else 0.0, "ratio")

    spark_totals([j for j in jobs if j["group"] in ok], len(ok), "spark")
    keys = {(b["query_id"], b["batch"]) for b in batches}
    spark_totals([j for j in jobs if (j["query_id"], j["batch"]) in keys], len(batches), "ingest.spark")
    m["harness.generator_lag_p90_ms"] = (quantile([x * 1000 for x in lags], 0.9), "ms")
    return m


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--spans", help="file to write the trace spans to")
    ap.add_argument("--sf", type=float, default=SF)
    args = ap.parse_args()
    result, tracer = run(
        args.workload, args.seed, args.seconds, bool(args.trace), Path(args.scratch), args.sf
    )
    if args.trace and args.spans:
        tracer.dump(args.spans)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
