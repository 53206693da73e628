"""Snapshot-versioned parquet tables: append/overwrite commits, time
travel, and safe expiry — the transaction-log half of a lakehouse
table format, reduced to what a single writer on a rename-atomic
filesystem actually needs.

Why it exists here: the reference's tables are mutate-in-place
(Cassandra upserts, realtime_api.py reads whatever is current); a
training pipeline needs the OPPOSITE — immutable, reproducible
snapshots ("train on exactly the corpus as of v12") with readers
never observing a half-written commit.  The mechanism below is the
standard manifest design (Iceberg/Delta reduced): data files are
immutable and write-once, a commit is ONE atomic rename of a manifest
file, and a version's file list is resolved eagerly into its manifest
so reads touch exactly one small JSON before planning the scan.

Guarantees (single writer, rename-atomic store):
- readers see only fully-committed versions (the manifest is renamed
  into place AFTER every data file is durable);
- a crashed write leaves orphan data files but NO new version —
  invisible to readers, reclaimed by ``expire_snapshots``;
- any retained version stays byte-stable forever (files are never
  rewritten, only added or de-referenced).

Multi-writer coordination (a lock service / conditional put) is out of
scope, as it is for every filesystem-only table format.

At scale the O(files-per-version) manifest is the only driver-side
cost; a 100 TB table wants file counts managed anyway
(sinks/layout.py::compact_partitions) and the listing comes from
``DataFrame.inputFiles()`` on the just-written commit directory —
never a recursive walk of the whole table.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from real_time_data_analytics_cassandra_spark.streaming.pipelines import (
    start_available_now,
)

_MANIFEST_DIR = "_manifests"


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, _MANIFEST_DIR, f"v{version:06d}.json")


def snapshot_versions(path: str) -> list[int]:
    """Committed versions, ascending (empty for a fresh/absent table)."""
    d = os.path.join(path, _MANIFEST_DIR)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def _resolve(path: str, version: int | None = None) -> tuple[int, dict]:
    """``(version, manifest)`` of ``version`` (default: the latest
    committed); raises ``ValueError`` for an empty table or a version
    that is not committed."""
    versions = snapshot_versions(path)
    if not versions:
        raise ValueError(f"no committed snapshots at {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    return v, _load_manifest(path, v)


def _load_manifest(path: str, version: int) -> dict:
    root = _data_uri(path)
    with open(_manifest_path(path, version)) as fh:
        return _rebase(
            json.load(fh), lambda f: root + f if f.startswith("data/") else f
        )


def _data_uri(path: str) -> str:
    """The URI prefix Spark reports this table's data files under."""
    return "file://" + os.path.abspath(path) + "/"


def _rebase(manifest: dict, fn) -> dict:
    """``manifest`` with ``fn`` applied to every data-file path it
    records.  On disk, files under the table root are stored relative
    to it, so a table directory can be renamed (an atomically
    published fixture is built elsewhere, then moved) and still
    read."""
    m = {**manifest, "files": [fn(f) for f in manifest["files"]]}
    for k in ("file_stats", "file_added_at"):
        if k in m:
            m[k] = {fn(f): v for f, v in m[k].items()}
    if "delete_files" in m:
        m["delete_files"] = [
            {**d, "paths": [fn(p) for p in d["paths"]]} for d in m["delete_files"]
        ]
    if "bloom" in m:
        m["bloom"] = {
            c: {**e, "files": {fn(f): w for f, w in e["files"].items()}}
            for c, e in m["bloom"].items()
        }
    return m


def _local_path(uri: str) -> str:
    """The filesystem path of a data-file URI as Spark reports it."""
    return urlparse(uri).path if uri.startswith("file:") else uri


def _file_column_stats(files: list, cols: tuple) -> dict:
    """Per-file min/max for ``cols`` from parquet FOOTERS (metadata
    only — no data pages are read; the writer already computed these
    statistics).  Values are normalized JSON-safe: numerics kept,
    everything else (timestamps included) serialized with ``str()``,
    whose fixed ``YYYY-MM-DD HH:MM:SS`` form is order-preserving — so
    pruning can compare bounds with plain Python ordering.

    Driver-side loop: O(files) ~KB footer reads, the same cost class
    as the manifest itself.  On a real cluster parallelize it
    (``sc.parallelize(files).map(...)``) or collect the stats from the
    write tasks — the manifest format does not change.
    """
    import pyarrow.parquet as pq

    def norm(v):
        return v if isinstance(v, (int, float)) else str(v)

    out = {}
    for f in files:
        meta = pq.ParquetFile(_local_path(f)).metadata
        idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        per = {}
        for c in cols:
            if c not in idx:
                continue
            mins, maxs = [], []
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    mins = []
                    break
                try:
                    mins.append(st.min)
                    maxs.append(st.max)
                except NotImplementedError:
                    # pyarrow cannot decode min/max for some logical
                    # types (e.g. decimal): record no stats for the
                    # column — scans conservatively keep the file
                    mins = []
                    break
            if mins:
                per[c] = [norm(min(mins)), norm(max(maxs))]
        out[f] = per
    return out


def write_snapshot(
    df: DataFrame,
    path: str,
    mode: str = "append",
    stats_cols: tuple = (),
) -> int:
    """Commit ``df`` as a new snapshot version; returns the version.

    ``mode='append'``: the new version references the parent's files
    plus this commit's.  ``mode='overwrite'``: the new version
    references ONLY this commit's files — the parent version remains
    fully readable (logical overwrite, physical append: that is what
    makes time travel free).

    The data lands in a fresh ``data/snap-<uuid>/`` directory, so
    concurrent readers of older versions never race the writer, and
    the commit is the single atomic rename of the manifest.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown snapshot mode: {mode}")
    return _commit(path, mode, _stage(df, path, "snap"), df.schema.json(), stats_cols)


def _stage(df: DataFrame, path: str, prefix: str) -> list:
    """Write ``df`` into a fresh immutable commit directory and return
    its file list — invisible until a manifest references it."""
    commit_dir = os.path.join(path, "data", f"{prefix}-{uuid.uuid4().hex}")
    df.write.mode("error").parquet(commit_dir)
    return sorted(df.sparkSession.read.parquet(commit_dir).inputFiles())


def read_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """The table as of ``version`` (default: latest committed).

    Planning reads ONE manifest; the scan lists exactly that
    version's files — no directory walking, no exposure to
    uncommitted data, byte-stable for as long as the version is
    retained."""
    _, manifest = _resolve(path, version)
    return _read_manifest_files(spark, manifest, manifest["files"])


def _read_manifest_files(
    spark: SparkSession, manifest: dict, files: list
) -> DataFrame:
    """Plan a read over ``files`` of a version, applying the
    version's equality deletes MERGE-ON-READ: each data file is
    anti-joined against exactly the delete commits SEQUENCED AFTER it
    (``file_added_at`` vs the delete's commit version), so a key
    deleted at version d disappears from rows written before d but a
    row re-inserting that key at d+1 survives — Iceberg v2 equality-
    delete semantics.  Files group by their applicable-delete set, so
    the plan holds at most |delete commits|+1 scan branches; compact
    (which folds deletes in and clears the list) bounds that number
    operationally."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(manifest["schema"]))
    if not files:
        return spark.createDataFrame([], schema)
    deletes = manifest.get("delete_files", [])
    if not deletes:
        return spark.read.schema(schema).parquet(*files)
    key = deletes[0]["key"]
    added = manifest.get("file_added_at", {})
    groups: dict = {}
    for f in files:
        a = added.get(f, 0)
        dels = tuple(
            p
            for d in deletes
            if d["version"] > a
            for p in d["paths"]
        )
        groups.setdefault(dels, []).append(f)
    parts = []
    for dels, fs in groups.items():
        part = spark.read.schema(schema).parquet(*fs)
        if dels:
            keys = spark.read.parquet(*dels).select(key).distinct()
            # delete sets are typically small (tombstones); hint the
            # broadcast so the anti-join never shuffles the data side
            part = part.join(F.broadcast(keys), key, "left_anti")
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def delete_from_snapshot(
    spark: SparkSession,
    keys_df: DataFrame,
    path: str,
    key_col: str,
) -> int:
    """Row-level DELETE as a metadata commit (merge-on-read): stage
    the distinct keys as a tombstone file and commit a new version
    whose readers anti-join them — no data file is rewritten, which
    is the only affordable shape for a right-to-be-forgotten pass
    over 100 TB.  Deletes apply to rows written BEFORE this commit
    (sequence semantics, see :func:`_read_manifest_files`); a later
    append may legitimately re-insert a key.  ``compact_snapshot``
    physically applies accumulated tombstones and clears the list.

    One equality key column per table (mixed-key tombstones would
    need per-delete join plans); a conflicting key raises."""
    _resolve(path)  # an empty table has nothing to delete: raises
    return _commit(path, "delete", tombstone=(keys_df, key_col))


def upsert_into_snapshot(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key_col: str,
    stats_cols: tuple = (),
) -> int:
    """Keyed UPSERT as ONE atomic merge-on-read commit: the batch's
    keys become a tombstone (shadowing every OLDER row with those
    keys) and the batch's rows append in the same manifest — readers
    flip from no-effect to full-effect atomically.  The new data
    files are sequenced AT this version while the tombstone applies
    only BELOW it, so the incoming rows shadow the old ones without
    deleting themselves.  This is `MERGE INTO` for append-heavy
    tables without reading or rewriting a single existing file — the
    complement of `sinks/merge.py::merge_upsert` (copy-on-write,
    partition-pruned) for when even the touched partitions are too
    big to rewrite per batch.  On an empty table the upsert is the
    first append: there is nothing older to shadow."""
    if not snapshot_versions(path):
        return write_snapshot(df, path, mode="append", stats_cols=stats_cols)
    return _commit(
        path,
        "upsert",
        _stage(df, path, "snap"),
        df.schema.json(),
        stats_cols,
        tombstone=(df, key_col),
    )


def mor_upsert_foreach_batch(
    stream: DataFrame,
    path: str,
    key_col: str,
    checkpoint: str,
    stats_cols: tuple = (),
):
    """Streaming MERGE INTO a snapshot table, merge-on-read: every
    micro-batch lands as ONE atomic tombstone+append commit
    (:func:`upsert_into_snapshot`), so a reader sees each batch's
    updates entirely or not at all, and no existing file is ever
    rewritten.  Pair with periodic :func:`compact_snapshot` to fold
    accumulated tombstones (the read plan grows one branch per
    uncompacted upsert commit).  A replayed batch re-commits a
    version whose rows shadow its previous self by key — the visible
    STATE stays correct under at-least-once delivery; only version
    count inflates (same caveat as :func:`snapshot_foreach_batch`)."""

    def step(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        upsert_into_snapshot(
            batch.sparkSession, batch, path, key_col, stats_cols=stats_cols
        )

    return start_available_now(stream, step, checkpoint)


def scan_snapshot(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> DataFrame:
    """Range scan with MANIFEST-LEVEL file skipping: plan the read
    over only the files whose recorded [min, max] for ``col`` overlaps
    [lo, hi] (either bound may be None for a half-open range), then
    apply the residual row filter.  Semantically identical to
    ``read_snapshot(...).filter(...)`` — asserted in tests — but the
    scan never opens pruned files at all, BEFORE parquet's own
    row-group skipping gets a say.

    This is the Iceberg data-skipping design: at 100 TB, planning
    reads one manifest and the file list shrinks by the clustering
    factor of ``col`` (write sorted/z-ordered on the skip columns to
    make the factor large).  Files committed without stats for
    ``col`` are conservatively kept.  Bounds follow the stats
    normalization: numerics compare numerically, timestamps (and any
    other non-numeric type, e.g. decimal) as their ``str()`` form
    (pass a 'YYYY-MM-DD HH:MM:SS' string); a bound whose type does
    not order against the recorded stat's keeps the file rather than
    pruning on a meaningless cross-type comparison.
    """
    _, manifest = _resolve(path, version)
    stats = manifest.get("file_stats", {})

    def keep(f: str) -> bool:
        s = stats.get(f, {}).get(col)
        if not s:
            return True
        fmin, fmax = s
        # stats are str()-normalized for non-numeric columns; a bound
        # whose type does not order against the recorded stat (numeric
        # bound vs string stat, or vice versa) must conservatively keep
        # the file — raw Python comparison would either TypeError
        # mid-planning or, worse, prune on lexicographic order
        num_stat = isinstance(fmin, (int, float)) and not isinstance(fmin, bool)
        for bound in (lo, hi):
            if bound is None:
                continue
            num_bound = isinstance(bound, (int, float)) and not isinstance(
                bound, bool
            )
            if num_stat != num_bound:
                return True
        if lo is not None and fmax < lo:
            return False
        if hi is not None and fmin > hi:
            return False
        return True

    kept = [f for f in manifest["files"] if keep(f)]
    df = _read_manifest_files(spark, manifest, kept)
    from pyspark.sql import functions as F

    # string bounds against a timestamp column coerce literal-side
    # (Catalyst casts the literal, not the column), so the residual
    # predicate stays pushdown-eligible for parquet row-group skipping
    c = F.col(col)
    if lo is not None:
        df = df.filter(c >= F.lit(lo))
    if hi is not None:
        df = df.filter(c <= F.lit(hi))
    return df


def _bloom_positions(col, bits: int, k: int):
    """k bit positions for a value: pmod(xxhash64(value, seed_i), bits)
    — the SAME JVM expression at build and probe time, so membership
    is consistent by construction (no cross-language hash reimpl)."""
    from pyspark.sql import functions as F

    return F.array(
        *[
            F.pmod(F.xxhash64(col, F.lit(i)), F.lit(bits)).cast("int")
            for i in range(k)
        ]
    )


def add_bloom_index(
    spark: SparkSession,
    path: str,
    col: str,
    bits: int = 16384,
    k: int = 5,
) -> int:
    """Build a per-file Bloom filter over ``col`` for the latest
    version and commit it as a NEW metadata-only version (op
    ``index`` — same files, same stats, plus the index).  Point
    lookups through :func:`lookup_snapshot` then open only the files
    whose filter admits the key — the Iceberg/Delta bloom-column
    design for needle-in-100-TB reads on NON-clustered columns, where
    min/max skipping is useless.

    Build cost: ONE distributed scan of the version's files projecting
    (input_file_name, col); bit positions explode map-side and
    aggregate with bit_or into 64-bit words, so the shuffle carries at
    most files × bits/64 rows — KBs per file, independent of row
    count.  Default sizing (16 Ki bits, k=5) holds ~1.6k distinct
    keys/file at ~1% false-positive rate; scale ``bits`` with rows
    per file (the manifest stores sizing per column, so re-indexing
    with different parameters is just another commit).
    """
    from pyspark.sql import functions as F

    _, manifest = _resolve(path)
    if not manifest["files"]:
        words = []
    else:
        df = spark.read.parquet(*manifest["files"])
        words = (
            df.select(
                F.input_file_name().alias("__f"),
                F.explode(_bloom_positions(F.col(col), bits, k)).alias("__p"),
            )
            .filter(F.col("__p").isNotNull())
            .select(
                "__f",
                F.expr("int(__p div 64)").alias("__w"),
                F.expr("shiftleft(1L, int(__p % 64))").alias("__m"),
            )
            .groupBy("__f", "__w")
            .agg(F.bit_or("__m").alias("__mask"))
            .collect()
        )
    index: dict = {}
    for r in words:
        index.setdefault(r["__f"], {})[str(r["__w"])] = r["__mask"]
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(manifest["schema"]))
    entry = {
        "bits": bits,
        "k": k,
        # probe literals must hash EXACTLY like the stored column —
        # xxhash64(int) != xxhash64(long) — so the indexed type
        # travels with the index and lookups cast to it
        "type": schema[col].dataType.simpleString(),
        "files": {f: index.get(f, {}) for f in manifest["files"]},
    }
    return _commit(path, "index", bloom=(col, entry))


def lookup_snapshot(
    spark: SparkSession,
    path: str,
    col: str,
    value,
    version: int | None = None,
) -> DataFrame:
    """Point lookup ``col == value`` that consults the version's Bloom
    index (if :func:`add_bloom_index` committed one) to open only the
    files that can contain the key; falls back to scanning all files
    when no index covers ``col``.  Result is exactly
    ``read_snapshot(...).filter(col == value)`` — Bloom filters admit
    false positives (handled by the residual filter), never false
    negatives."""
    from pyspark.sql import functions as F

    _, manifest = _resolve(path, version)
    entry = manifest.get("bloom", {}).get(col)
    files = manifest["files"]
    if entry and files:
        bits, k = entry["bits"], entry["k"]
        probe = (
            spark.range(1)
            .select(
                _bloom_positions(
                    F.lit(value).cast(entry["type"]), bits, k
                ).alias("p")
            )
            .collect()[0]["p"]
        )
        def admits(f: str) -> bool:
            words = entry["files"].get(f)
            if words is None:  # file unknown to the index: must scan
                return True
            return all(
                (int(words.get(str(p // 64), 0)) >> (p % 64)) & 1
                for p in probe
            )

        files = [f for f in files if admits(f)]
    df = _read_manifest_files(spark, manifest, files)
    return df.filter(F.col(col) == F.lit(value))


def read_snapshot_appended(
    spark: SparkSession,
    path: str,
    since_version: int,
    version: int | None = None,
) -> DataFrame:
    """Incremental consumption: exactly the rows ADDED between
    ``since_version`` (exclusive) and ``version`` (inclusive) —
    resolved at FILE level from the two manifests, so planning cost is
    two small JSON reads and the scan touches only the new files.
    This is the checkpoint-and-resume primitive for downstream ETL
    ("process whatever landed since the version I recorded"), the
    file-level complement of :func:`snapshot_diff` (which compares
    ROWS and must read both versions).

    The file-set difference equals the logical insert set only while
    every intervening commit is additive; if any commit in the range
    is an ``overwrite`` (including compaction, which rewrites files),
    the function raises and the caller must fall back to
    :func:`snapshot_diff` — silently returning rewritten files as
    "new rows" would double-process data.  Metadata-only commits
    (``index``) contribute no files and pass through.
    """
    _, old = _resolve(path, since_version)
    v, new = _resolve(path, version)
    if v < since_version:
        raise ValueError(f"bad target version {v} (since={since_version})")
    # walk the commit chain (since, v]: every op must be additive
    for mid in snapshot_versions(path):
        if since_version < mid <= v:
            op = _load_manifest(path, mid).get("op")
            if op not in ("append", "index"):
                raise ValueError(
                    f"version {mid} is op={op!r}: the file-set delta is "
                    "not an insert set — use snapshot_diff"
                )
    old_files = set(old["files"])
    # the added files are sequenced after every tombstone the chain
    # carries, so the merge-on-read plan reads them as they are
    return _read_manifest_files(
        spark, new, [f for f in new["files"] if f not in old_files]
    )


def version_asof(path: str, ts: float) -> int:
    """The newest version committed at or before UNIX time ``ts`` —
    'the table as the 02:00 job saw it'.  Combine with read_snapshot:
    ``read_snapshot(spark, path, version_asof(path, ts))``.  Raises if
    the table has no version that old."""
    best = None
    for v in snapshot_versions(path):
        if _load_manifest(path, v).get("committed_at", float("inf")) <= ts:
            best = v
    if best is None:
        raise ValueError(f"no version committed at or before {ts}")
    return best


def expire_snapshots(path: str, keep_last: int = 1) -> dict:
    """Drop all but the newest ``keep_last`` versions and delete data
    files no retained version references (orphans from crashed
    writes included).  Returns {"dropped_versions": [...],
    "deleted_files": n}.

    Safety order: manifests are removed FIRST, so a crash mid-expiry
    can only leave unreferenced files (re-collectable), never a
    manifest pointing at deleted data."""
    versions = snapshot_versions(path)
    keep = versions[-keep_last:] if keep_last > 0 else []
    drop = [v for v in versions if v not in keep]
    referenced: set[str] = set()
    for v in keep:
        m = _load_manifest(path, v)
        referenced.update(m["files"])
        for d in m.get("delete_files", []):
            referenced.update(d["paths"])  # tombstones are data too
    for v in drop:
        os.remove(_manifest_path(path, v))
    referenced = {_local_path(p) for p in referenced}
    deleted = 0
    # walked as absolute paths: the references are absolute URIs
    data_root = os.path.join(os.path.abspath(path), "data")
    if os.path.isdir(data_root):
        import shutil

        for snap in os.listdir(data_root):
            snap_dir = os.path.join(data_root, snap)
            kept_any = False
            doomed = []
            for root, _dirs, names in os.walk(snap_dir):
                for name in names:
                    p = os.path.join(root, name)
                    if name.endswith(".parquet"):
                        if p in referenced:
                            kept_any = True
                        else:
                            doomed.append(p)
            if not kept_any:
                # whole commit dir unreferenced (dropped version or a
                # crashed write's orphan) -> remove the tree
                deleted += len(doomed)
                shutil.rmtree(snap_dir)
            else:
                # partially referenced (append lineage): remove only
                # the unreferenced parquet, keep markers/checksums of
                # the survivors intact
                for p in doomed:
                    os.remove(p)
                    deleted += 1
    return {"dropped_versions": drop, "deleted_files": deleted}


def snapshot_diff(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    keys: list[str],
) -> DataFrame:
    """CDC between two committed versions: one row per key that was
    inserted, deleted, or updated going v_from -> v_to, tagged
    ``_change`` in ('insert', 'delete', 'update').  The incremental-
    refresh primitive: "which documents changed since the version I
    last trained on" without replaying a log — the two manifests ARE
    the log.

    Plan shape: full outer join on the key columns over the two
    version scans; unchanged rows (every non-key column equal) drop
    out via a struct comparison, so only changed keys survive the
    join output.  At scale both sides are manifest-pruned scans of
    immutable files — no state, no replay."""
    a = read_snapshot(spark, path, v_from)
    b = read_snapshot(spark, path, v_to)
    from pyspark.sql import functions as F

    payload = [c for c in a.columns if c not in keys]
    la = a.select(
        *[F.col(k).alias(k) for k in keys],
        F.struct(*payload).alias("__old"),
    )
    lb = b.select(
        *[F.col(k).alias(k) for k in keys],
        F.struct(*payload).alias("__new"),
    )
    joined = la.join(lb, keys, "full_outer")
    return (
        joined.withColumn(
            "_change",
            F.when(F.col("__old").isNull(), F.lit("insert"))
            .when(F.col("__new").isNull(), F.lit("delete"))
            .when(F.col("__old") != F.col("__new"), F.lit("update")),
        )
        .filter(F.col("_change").isNotNull())
        .select(
            *keys,
            "_change",
            *[F.col(f"__new.{c}").alias(f"{c}_new") for c in payload],
            *[F.col(f"__old.{c}").alias(f"{c}_old") for c in payload],
        )
    )


def snapshot_foreach_batch(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    stats_cols: tuple = (),
):
    """Stream into a snapshot-versioned table: every micro-batch
    commits as ONE append version, so readers flip atomically from
    version N to N+1 between batches and never observe a batch half-
    written — the exactly-once-visible sink the multi-file parquet
    append cannot give by itself.  (A replayed batch would commit a
    duplicate version; pair with an idempotent upstream — e.g.
    dedup_events — or diff-check the parent manifest when the source
    can redeliver.)  ``stats_cols`` forwards to
    :func:`write_snapshot`, so streamed commits carry the same
    min/max file stats batch commits do and :func:`scan_snapshot`
    prunes them identically (footer reads only — per-batch cost is
    O(files in the batch))."""

    def step(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        write_snapshot(batch, path, mode="append", stats_cols=stats_cols)

    return start_available_now(stream, step, checkpoint)


def compact_snapshot(
    spark: SparkSession,
    path: str,
    target_files: int,
    zorder_cols: tuple = (),
    stats_cols: tuple = (),
) -> int:
    """Rewrite the LATEST version's data into ``target_files`` files
    and commit the result as a new logical-overwrite version — the
    write-amplification management a streaming snapshot table needs:
    every micro-batch appends small files and grows the manifest, so
    periodic compaction folds the lineage back to a bounded file
    count (and, through the MOR read it compacts FROM, physically
    applies any accumulated tombstones).  Readers of prior versions
    are untouched (their files stay referenced until
    ``expire_snapshots`` drops them); the compacted version is
    logically identical to its parent (tested row-for-row).

    ``zorder_cols`` turns this into OPTIMIZE ZORDER: rows cluster on
    the Morton interleave of those columns (sinks/layout.py), so the
    rewritten files carry tight min/max spans on EVERY listed
    dimension at once — pair with ``stats_cols`` to record those
    spans in the manifest and scan_snapshot prunes on any of them.
    Returns the new version."""
    from real_time_data_analytics_cassandra_spark.sinks.layout import (
        zorder_key,
    )

    current = read_snapshot(spark, path)
    if zorder_cols:
        keyed, key = zorder_key(current, list(zorder_cols))
        compacted = (
            keyed.repartitionByRange(target_files, key)
            .sortWithinPartitions(key)
            .drop(key)
        )
    else:
        compacted = current.repartition(target_files)
    # materialize via the normal commit path; 'overwrite' semantics
    # because the new version REPLACES the parent's file list
    return write_snapshot(
        compacted, path, mode="overwrite", stats_cols=stats_cols
    )


class AuditFailed(RuntimeError):
    """Raised when a write-audit-publish commit fails its checks; the
    staged files are already reclaimable (no manifest references
    them)."""

    def __init__(self, report: list):
        self.report = report
        failed = [r["check"] for r in report if not r["passed"]]
        super().__init__(
            "snapshot audit failed: " + ", ".join(sorted(failed))
        )


def write_snapshot_audited(
    df: DataFrame,
    path: str,
    checks: dict,
    mode: str = "append",
) -> tuple[int, list]:
    """Write-Audit-Publish: stage ``df``'s data files, evaluate the
    expectation suite (operators/expectations.py::row_checks) against
    the STAGED data, and only then commit the manifest.  A failing
    batch never becomes a version — readers cannot observe it, and
    ``expire_snapshots`` reclaims its files like any crashed write.
    Returns (version, report-rows) on success; raises
    :class:`AuditFailed` (carrying the report) on violation.

    This is the admission-gate composition a production table wants:
    the quality report is computed from the files that would be
    published (re-read, not the incoming plan), so what was audited
    IS what readers see.
    """
    from real_time_data_analytics_cassandra_spark.operators.expectations import (
        row_checks,
    )

    files = _stage(df, path, "snap")
    staged = df.sparkSession.read.schema(df.schema).parquet(*files)
    report = [r.asDict() for r in row_checks(staged, checks).collect()]
    if any(not r["passed"] for r in report):
        raise AuditFailed(report)
    return _commit(path, mode, files, df.schema.json()), report


def audited_snapshot_foreach_batch(
    stream: DataFrame,
    path: str,
    checks: dict,
    checkpoint: str,
    quarantine: str | None = None,
):
    """Streaming Write-Audit-Publish: every micro-batch stages, runs
    the expectation suite against the STAGED files, and commits one
    snapshot version only on a clean report — a bad batch never
    becomes a readable version.  Failing batches land (with their
    audit report as JSON columns) in the ``quarantine`` parquet
    location instead, so they are inspectable and replayable rather
    than silently dropped; without a quarantine path the failure
    only logs (the checkpoint still advances — at-least-once
    admission, never at-least-once corruption).

    At 100 TB this is the admission-gate shape for continuously-fed
    tables: audit cost is one scan of the BATCH (not the table), and
    publish stays one manifest rename."""
    import json as _json

    def step(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        try:
            write_snapshot_audited(batch, path, checks, mode="append")
        except AuditFailed as exc:
            if quarantine is None:
                print(
                    f"[audited sink] batch {batch_id} failed audit: "
                    f"{exc.report}"
                )
                return
            from pyspark.sql import functions as F

            (
                batch.withColumn(
                    "_audit_report", F.lit(_json.dumps(exc.report))
                )
                .withColumn("_batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(quarantine)
            )

    return start_available_now(stream, step, checkpoint)


def _commit(
    path: str,
    op: str,
    files: list = (),
    schema_json: str | None = None,
    stats_cols: tuple = (),
    tombstone: tuple | None = None,
    bloom: tuple | None = None,
) -> int:
    """Commit the next version on top of the latest one — the one
    place a manifest is built.  ``files`` are this commit's staged
    data files and ``schema_json`` their schema; ``tombstone`` is an
    equality delete ``(keys_df, key_col)``, staged here; ``bloom`` is
    one ``(col, entry)`` index entry.  Returns the new version.

    ``overwrite`` (and a table's first commit) starts a fresh file
    list.  Every other op carries the parent forward:
    - files, with their recorded stats (files are immutable, so the
      parent's stats stay valid forever);
    - the schema as the FIELD UNION of parent and commit (parquet
      fills absent columns with null at read), so adding a column is
      one commit and dropping one from a batch can never erase it
      from history; a TYPE change is refused — that needs a rewrite;
    - the merge-on-read bookkeeping: new files are SEQUENCED at this
      version, so earlier tombstones never apply to them, while this
      commit's tombstone applies to every file sequenced below it;
    - the Bloom index: its per-file words never change, and new files
      fall back to must-scan in :func:`lookup_snapshot`."""
    versions = snapshot_versions(path)
    parent = versions[-1] if versions else None
    version = (parent or 0) + 1
    pm = {} if parent is None or op == "overwrite" else _load_manifest(path, parent)
    deletes = list(pm.get("delete_files", []))
    if tombstone is not None:
        keys_df, key_col = tombstone
        # one equality key column per table: mixed-key tombstones
        # would need per-delete join plans
        if deletes and deletes[0]["key"] != key_col:
            raise ValueError(
                f"table already carries deletes on {deletes[0]['key']!r}; "
                f"cannot mix with {key_col!r}"
            )
        tomb = _stage(keys_df.select(key_col).distinct(), path, "del")
        deletes.append({"paths": tomb, "version": version, "key": key_col})
    if schema_json is None:
        schema_json = pm["schema"]
    elif pm:
        schema_json = _merge_schema_json(pm["schema"], schema_json)
    stats = _file_column_stats(files, tuple(stats_cols)) if stats_cols else {}
    manifest = {
        "version": version,
        "parent": parent,
        "op": op,
        "schema": schema_json,
        "files": pm.get("files", []) + list(files),
        "file_stats": {**pm.get("file_stats", {}), **stats},
        "file_added_at": {
            **pm.get("file_added_at", {}),
            **dict.fromkeys(files, version),
        },
        "delete_files": deletes,
    }
    index = dict(pm.get("bloom", {}))
    if bloom is not None:
        index[bloom[0]] = bloom[1]
    if index:
        manifest["bloom"] = index
    _atomic_write_manifest(path, version, manifest)
    return version


def _merge_schema_json(parent_json: str, new_json: str) -> str:
    """Field union of two schema JSONs, parent field order first.
    Same-named fields must agree on type (promotion would silently
    reinterpret already-written bytes — refuse instead)."""
    parent = json.loads(parent_json)
    new = json.loads(new_json)
    by_name = {f["name"]: f for f in parent["fields"]}
    merged = list(parent["fields"])
    for f in new["fields"]:
        old = by_name.get(f["name"])
        if old is None:
            merged.append(f)
        elif old["type"] != f["type"]:
            raise ValueError(
                f"schema evolution cannot change column {f['name']!r} "
                f"from {old['type']!r} to {f['type']!r}; rewrite with "
                "mode='overwrite' instead"
            )
    return json.dumps({**parent, "fields": merged})


def _atomic_write_manifest(path: str, version: int, manifest: dict) -> None:
    # commit wall time: METADATA ONLY (never part of query results) —
    # it powers AS-OF resolution, retention policies, and ops readouts;
    # stamped here, so no commit inherits its parent's time
    manifest = {**manifest, "committed_at": time.time()}
    mdir = os.path.join(path, _MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
    root = _data_uri(path)
    with open(tmp, "w") as fh:
        json.dump(
            _rebase(
                manifest,
                lambda f: f[len(root) :] if f.startswith(root + "data/") else f,
            ),
            fh,
        )
        fh.flush()
        os.fsync(fh.fileno())
    final = _manifest_path(path, version)
    if os.path.exists(final):  # single-writer contract violated
        os.remove(tmp)
        raise RuntimeError(
            f"snapshot version {version} already committed — "
            "concurrent writers need external coordination"
        )
    os.rename(tmp, final)


def snapshot_health(path: str) -> dict:
    """Operational readout for a snapshot table — the numbers that
    decide maintenance actions, from manifests alone (no data read):

    - ``versions``: committed version count (expire when deep);
    - ``files`` / ``avg_file_mb``: live file count and mean size of
      the CURRENT version (compact when many/small);
    - ``tombstone_commits`` and ``read_branches``: uncompacted delete
      commits and the resulting scan-branch count of a full read
      (compact when the plan fans out);
    - ``indexed_columns`` / ``stats_columns``: which data-skipping
      structures exist.
    """
    versions = snapshot_versions(path)
    if not versions:
        return {"versions": 0}
    m = _load_manifest(path, versions[-1])
    files = m["files"]
    total = 0
    for f in files:
        try:
            total += os.path.getsize(_local_path(f))
        except OSError:
            pass
    deletes = m.get("delete_files", [])
    added = m.get("file_added_at", {})
    branches = len(
        {
            tuple(d["version"] for d in deletes if d["version"] > added.get(f, 0))
            for f in files
        }
    ) if files else 0
    stats_cols = sorted({c for s in m.get("file_stats", {}).values() for c in s})
    return {
        "versions": len(versions),
        "files": len(files),
        "avg_file_mb": round(total / len(files) / 1048576, 3) if files else 0.0,
        "tombstone_commits": len(deletes),
        "read_branches": branches,
        "indexed_columns": sorted(m.get("bloom", {})),
        "stats_columns": stats_cols,
    }
