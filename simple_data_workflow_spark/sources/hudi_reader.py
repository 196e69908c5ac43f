"""Jar-free READ-ONLY Apache Hudi interop (round 10; merge-on-read
added round 11).

The Hudi table layout is a public, documented spec (hudi.apache.org
"Technical Specification"): a ``.hoodie/`` directory holds
``hoodie.properties`` (table config) and the TIMELINE — files named
``<instantTime>.<action>[.<state>]`` where a bare ``<instant>.commit``
(or ``.replacecommit``) is a COMPLETED action and ``.requested`` /
``.inflight`` suffixes mark pending ones. Data files live in partition
directories named ``<fileId>_<writeToken>_<instantTime>.parquet``;
each (partition, fileId) is a FILE GROUP whose slices are versions of
the same records. A copy-on-write snapshot is therefore resolvable
with no Hudi jar:

1. every base file whose ``instantTime`` belongs to a COMPLETED commit
   is valid (set membership, not ``<=`` — files written by inflight,
   failed, or rolled-back commits must not surface);
2. per file group, the LATEST valid slice wins (upserts rewrite the
   whole file — that is what copy-on-write means);
3. file groups listed in a completed ``replacecommit``
   (clustering / insert_overwrite) whose latest slice is not newer
   than the replacement are dead and excluded.

Scope and guardrails:

- **Supported**: COPY_ON_WRITE tables on the classic timeline layout,
  Hive-partitioned or flat, multi-slice file groups, pending/inflight
  exclusion, ``as_of`` instant time travel, ``replacecommit``
  exclusion via ``partitionToReplaceFileIds``, optional stripping of
  the ``_hoodie_*`` meta columns; MERGE_ON_READ tables (round 11):
  per-file-group log replay — spec-shaped log blocks
  (``sources.hudi_log``) decode EXECUTOR-side, data blocks upsert by
  record key, delete blocks drop keys, rollback command blocks
  invalidate their targets, and deltacommit-gated validity hides
  uncommitted blocks; ``query_type="read_optimized"`` exposes the
  base-only view.
- **Refused loudly** (never silently wrong): a missing/unparseable
  ``hoodie.properties``, tables with no completed commits, log blocks
  in encodings only the runtime can decode (HFile/parquet data
  blocks, Kryo-serialized delete keys, nested Avro schemas).

Scale posture: timeline parsing is driver-side metadata like every
log format's planning phase; file-group resolution is one listing
(names carry everything — no footers opened); the data read is one
plain pushdown-friendly parquet scan over the chosen slices (Hudi CoW
files store ALL columns, including partition columns).
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession

from simple_data_workflow_spark.sources import tablefs


class HudiFeatureUnsupported(NotImplementedError):
    """The table needs a feature this jar-free reader does not
    implement (merge-on-read, non-classic timeline). Reading anyway
    would return WRONG rows, so this raises instead."""


_BASE_FILE_RE = re.compile(
    r"^(?P<file_id>[^_]+(?:-[^_]*)*)_(?P<token>[^_]+)_(?P<instant>\d+)\.parquet$"
)


def load_table_properties(spark: SparkSession, path: str) -> dict:
    """Parse ``.hoodie/hoodie.properties`` (java.util.Properties
    format: ``key=value`` lines, ``#`` comments)."""
    if not tablefs.exists(spark, f"{path}/.hoodie/hoodie.properties"):
        raise FileNotFoundError(f"no .hoodie/hoodie.properties under {path}")
    props: dict[str, str] = {}
    raw = tablefs.read_file(spark, f"{path}/.hoodie/hoodie.properties").decode(
        "utf-8"
    )
    for line in raw.splitlines():
        line = line.strip()
        if not line or line.startswith("#") or "=" not in line:
            continue
        k, _, v = line.partition("=")
        props[k.strip()] = v.strip()
    return props


# completed instant metadata file, BOTH timeline layouts (Hudi spec):
# classic (≤0.x, table version ≤6): ``<instant>.<action>`` directly in
# ``.hoodie/``; 1.x (table version 8): ``.hoodie/timeline/`` holds
# ``<requestedTime>_<completionTime>.<action>`` (the completion-time
# suffix orders concurrent writers). ``.requested``/``.inflight`` are
# pending in both layouts.
_COMPLETED_RE = re.compile(
    r"^(\d+)(?:_(\d+))?\.(commit|deltacommit|replacecommit)$"
)


def _timeline_names(spark: SparkSession, path: str) -> list[str]:
    """Entry names of ``.hoodie/`` and, when present, the 1.x layout's
    ``.hoodie/timeline/``."""
    return [
        name
        for d in (f"{path}/.hoodie", f"{path}/.hoodie/timeline")
        for name in tablefs.list_dir(spark, d) or []
    ]


def _timeline(spark: SparkSession, path: str):
    """``(completed commit/deltacommit instants, completed
    replacecommit instants)`` — classic AND 1.x timeline layouts
    (round 12, VERDICT r11 #5): classic completed actions are bare
    ``<instant>.<action>`` files in ``.hoodie/``; the 1.x layout moves
    them to ``.hoodie/timeline/<requested>_<completion>.<action>``.
    The instant identity is the REQUESTED time in both (file names
    reference it). ``deltacommit`` (merge-on-read writes) counts as a
    commit: its base files (inserts) and log blocks are live once the
    instant completes."""
    commits: set[str] = set()
    replaces: set[str] = set()
    for name in _timeline_names(spark, path):
        m = _COMPLETED_RE.match(name)
        if m:
            (replaces if m.group(3) == "replacecommit" else commits).add(
                m.group(1)
            )
    return commits, replaces


def _instant_file(
    spark: SparkSession, path: str, instant: str, action: str
) -> str:
    """Full path of a completed instant's metadata file in either
    timeline layout (classic bare name, or 1.x completion-suffixed
    under ``.hoodie/timeline/``)."""
    classic = f"{path}/.hoodie/{instant}.{action}"
    if tablefs.exists(spark, classic):
        return classic
    for name in tablefs.list_dir(spark, f"{path}/.hoodie/timeline") or []:
        m = _COMPLETED_RE.match(name)
        if m and m.group(1) == instant and m.group(3) == action:
            return f"{path}/.hoodie/timeline/{name}"
    raise FileNotFoundError(
        f"no completed {action} metadata for instant {instant} in either "
        f"timeline layout under {path}/.hoodie"
    )


def _replaced_file_ids(
    spark: SparkSession, path: str, instant: str
) -> dict[str, set[str]]:
    """``partition relpath -> replaced fileIds`` from one completed
    replacecommit's JSON metadata (HoodieReplaceCommitMetadata)."""
    raw = tablefs.read_file(
        spark, _instant_file(spark, path, instant, "replacecommit")
    ).decode("utf-8")
    meta = json.loads(raw) if raw.strip() else {}
    out: dict[str, set[str]] = {}
    for part, ids in (meta.get("partitionToReplaceFileIds") or {}).items():
        out[part] = set(ids)
    return out


# MoR log files: ``.<fileId>_<baseInstant>.log.<version>_<writeToken>``
_LOG_FILE_RE = re.compile(
    r"^\.(?P<file_id>.+)_(?P<base_instant>\d+)\.log\.(?P<version>\d+)_(?P<token>.+)$"
)


def _resolve_groups(
    spark: SparkSession, path: str, as_of: str | None = None
) -> tuple[dict, dict, set, set]:
    """File-group resolution shared by CoW and MoR reads:
    ``(groups, logs, commits, replaces)`` where ``groups`` maps
    ``(partition, fileId) -> (base instant, base path)`` (latest valid
    slice, replacecommit-retired groups dropped) and ``logs`` maps
    ``(partition, fileId) -> [(version, log path)]`` for log files
    attached to that group's CURRENT base instant (older slices' logs
    were compacted into the newer base)."""
    commits, replaces = _timeline(spark, path)
    if as_of is not None:
        commits = {c for c in commits if c <= str(as_of)}
        replaces = {r for r in replaces if r <= str(as_of)}
    completed = commits | replaces
    if not completed:
        raise ValueError(f"no completed commits in the Hudi timeline at {path}")

    root = tablefs.qualified_root(spark, path)
    staged = tablefs.staged_files(spark, path, skip=lambda d: d == ".hoodie")

    # (partition relpath, fileId) -> (instant, full path): latest valid
    # slice per file group
    groups: dict[tuple[str, str], tuple[str, str]] = {}
    log_candidates: list[tuple[str, str, str, int, str]] = []
    for rel, _, _ in staged:
        part, _, name = rel.rpartition("/")
        full = f"{root}/{rel}"
        m = _BASE_FILE_RE.match(name)
        if m:
            if m.group("instant") not in completed:
                continue  # inflight / failed / rolled-back / future writer
            key = (part, m.group("file_id"))
            cur = groups.get(key)
            if cur is None or m.group("instant") > cur[0]:
                groups[key] = (m.group("instant"), full)
            continue
        lm = _LOG_FILE_RE.match(name)
        if lm:
            log_candidates.append(
                (
                    part,
                    lm.group("file_id"),
                    lm.group("base_instant"),
                    int(lm.group("version")),
                    full,
                )
            )

    # drop file groups a replacecommit retired (unless a NEWER slice
    # was written into the group afterwards)
    for r in sorted(replaces):
        for part, ids in _replaced_file_ids(spark, path, r).items():
            for fid in ids:
                cur = groups.get((part, fid))
                if cur is not None and cur[0] <= r:
                    del groups[(part, fid)]

    logs: dict[tuple[str, str], list[tuple[int, str]]] = {}
    for part, fid, base_instant, version, full in log_candidates:
        cur = groups.get((part, fid))
        if cur is None or cur[0] != base_instant:
            continue  # logs of an older slice or a retired group
        logs.setdefault((part, fid), []).append((version, full))
    for k in logs:
        logs[k].sort()
    return groups, logs, commits, replaces


def hudi_snapshot_files(
    spark: SparkSession, path: str, as_of: str | None = None
) -> list[str]:
    """Resolve the copy-on-write snapshot to its base-file paths.
    ``as_of`` restricts to instants <= the given instant time string
    (Hudi's time-travel handle). Merge-on-read tables refuse here —
    a raw base-file list would resurrect log-deleted rows and miss log
    updates; use ``hudi_read``, which merges."""
    props = load_table_properties(spark, path)
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    if ttype != "COPY_ON_WRITE":
        raise HudiFeatureUnsupported(
            f"Hudi table type {ttype}: the raw base-file list is only "
            "the read-optimized view — use hudi_read, which merges the "
            "log files"
        )
    groups, _logs, _c, _r = _resolve_groups(spark, path, as_of)
    return sorted(p for _, p in groups.values())


def _hive_part_values(part: str) -> dict:
    """Hive partition-path segments → {col: string value} (NULL dir
    sentinel decodes to None)."""
    import urllib.parse as _up

    out = {}
    for seg in (part or "").split("/"):
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[_up.unquote(k)] = (
                None if v == "__HIVE_DEFAULT_PARTITION__" else _up.unquote(v)
            )
    return out


def _prune_groups(groups: dict, logs: dict, filters) -> tuple[dict, dict]:
    """Drop file groups whose Hive partition-path values PROVE a
    filter miss — driver-side, metadata-sized (path values are strings,
    so cross-typed filters conservatively never prune)."""
    from simple_data_workflow_spark.sources.iceberg_reader import (
        _identity_part_maybe,
    )

    keep_g, keep_l = {}, {}
    for key, v in groups.items():
        if _identity_part_maybe(_hive_part_values(key[0]), {}, filters):
            keep_g[key] = v
            if key in logs:
                keep_l[key] = logs[key]
    return keep_g, keep_l


def hudi_read(
    spark: SparkSession,
    path: str,
    as_of: str | None = None,
    include_meta: bool = False,
    query_type: str = "snapshot",
    filters: list[tuple] | None = None,
) -> DataFrame:
    """Read a Hudi table without the Hudi jar.

    COPY_ON_WRITE: resolve the snapshot's latest valid file slices from
    the timeline + file-name convention, scan them as one plain parquet
    read (CoW files store all columns), and drop the ``_hoodie_*`` meta
    columns unless ``include_meta=True``.

    MERGE_ON_READ (round 11, VERDICT r10 #4): each file group's base
    parquet merges with its ``.log.*`` delta files — log blocks decode
    EXECUTOR-SIDE (``binaryFile`` scan + ``mapInPandas`` over
    ``sources.hudi_log``'s spec-shaped codec), uncommitted/rolled-back
    blocks are skipped, and the newest version per record key wins
    (delete blocks drop keys) via one window over (group, key) — the
    default OverwriteWithLatestAvroPayload semantics, fully
    distributed. ``query_type="read_optimized"`` returns the base-only
    view (Hudi's RO query) instead of merging."""
    if query_type not in ("snapshot", "read_optimized"):
        raise ValueError(f"unknown query_type {query_type!r}")
    props = load_table_properties(spark, path)
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    row_filter = None
    if filters:
        from simple_data_workflow_spark.sources.delta_reader import (
            _filters_expr,
        )

        row_filter = _filters_expr(filters)
    if ttype == "MERGE_ON_READ" and query_type == "snapshot":
        df = _mor_read(spark, path, as_of=as_of, filters=filters)
        return df if row_filter is None else df.where(row_filter)
    groups, _logs, _c, _r = _resolve_groups(spark, path, as_of)
    all_groups = groups
    if filters:
        groups, _logs = _prune_groups(groups, _logs, filters)
    files = sorted(p for _, p in groups.values())
    if not files:
        if not all_groups:
            raise ValueError(
                f"no live file groups in the Hudi table at {path}"
            )
        # filters pruned EVERY group: an empty result with the table
        # schema (one footer read of a surviving pre-prune base file),
        # matching delta_read/iceberg_read's zero-match behavior
        # (ADVICE r11) — the raise stays for a genuinely empty table
        any_file = sorted(p for _, p in all_groups.values())[0]
        df = spark.read.parquet(any_file).limit(0)
    else:
        df = spark.read.parquet(*files)
    if not include_meta:
        meta_cols = [c for c in df.columns if c.startswith("_hoodie_")]
        if meta_cols:
            df = df.drop(*meta_cols)
    return df if row_filter is None else df.where(row_filter)


def hudi_table_changes(
    spark: SparkSession,
    path: str,
    start_instant: str | None = None,
    end_instant: str | None = None,
) -> DataFrame:
    """Jar-free Hudi INCREMENTAL query (round 12) — the semantics of
    ``hoodie.datasource.query.type=incremental``: every record whose
    CURRENT version as of ``end_instant`` was committed in
    ``(start_instant, end_instant]`` (begin EXclusive, end INclusive,
    Hudi's begin/end instant contract), returned with its
    ``_hoodie_commit_time``. Matching real Hudi incremental reads:

    - deletes are NOT emitted (a record deleted in range simply stops
      appearing — Hudi's non-CDC incremental behavior);
    - compaction produces no record versions (meta fields carry over,
      so compacted-but-unchanged records never re-emit);
    - instant strings are fixed-width timestamps, so lexicographic
      comparison IS chronological and the CoW filter pushes down to
      the parquet scan as a plain string-range predicate.

    COPY_ON_WRITE resolves the snapshot as-of ``end_instant`` and
    filters record-level ``_hoodie_commit_time``; MERGE_ON_READ runs
    the merged view with per-record commit times (base column for base
    rows, block instant for log records) and filters the winner."""
    from pyspark.sql import functions as F

    props = load_table_properties(spark, path)
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    commits, replaces = _timeline(spark, path)
    instants = sorted(commits | replaces)
    if not instants:
        raise ValueError(f"no completed instants in the Hudi table at {path}")
    end = str(end_instant) if end_instant is not None else instants[-1]
    start = str(start_instant) if start_instant is not None else ""
    if start and start > instants[-1]:
        # a start BEYOND the timeline is a caller bug, not polling
        raise ValueError(
            f"start instant {start!r} is past the newest completed "
            f"instant {instants[-1]!r}"
        )
    if start >= end:
        # steady-state incremental polling: start == latest instant
        # (or >= end) is the normal "no new commits" case — real Hudi
        # incremental queries return an EMPTY result here (ADVICE r12)
        if ttype == "MERGE_ON_READ":
            return _mor_read(
                spark, path, as_of=end, _with_commit_time=True
            ).limit(0)
        df = hudi_read(spark, path, as_of=end, include_meta=True)
        data_cols = [c for c in df.columns if not c.startswith("_hoodie_")]
        return df.select(*data_cols, "_hoodie_commit_time").limit(0)
    if ttype == "MERGE_ON_READ":
        df = _mor_read(spark, path, as_of=end, _with_commit_time=True)
    else:
        df = hudi_read(spark, path, as_of=end, include_meta=True)
        data_cols = [c for c in df.columns if not c.startswith("_hoodie_")]
        df = df.select(*data_cols, "_hoodie_commit_time")
    return df.where(
        (F.col("_hoodie_commit_time") > F.lit(start))
        & (F.col("_hoodie_commit_time") <= F.lit(end))
    )


def _split_merge_min_base() -> int:
    """Base-bytes threshold above which the MoR merge switches from
    the single windowed union (cheapest at small scale: one shuffle,
    no extra jobs) to the split shape (window over log rows only +
    anti-join on touched keys: no table-sized shuffle — the 100 TB
    posture). Env override: ``SPARK_GRAFT_HUDI_SPLIT_MERGE_MIN_BASE``
    (bytes)."""
    import os as _os

    raw = _os.environ.get("SPARK_GRAFT_HUDI_SPLIT_MERGE_MIN_BASE")
    if raw is not None:
        try:
            return int(raw)
        except ValueError:
            pass
    return 256 * 1024**2


def _log_broadcast_cap(spark: SparkSession) -> int:
    """Raw-log-bytes bound under which the MoR merge broadcasts the
    touched-key set (removing the base side's exchange entirely).
    Derived from the driver's memory budget — the broadcast relation is
    built there — with a 64 MiB ceiling; key rows are a small fraction
    of raw log bytes, so the guard is conservative. Env override:
    ``SPARK_GRAFT_HUDI_LOG_BC_CAP`` (bytes)."""
    import os as _os

    from simple_data_workflow_spark.session import driver_memory_bytes

    raw = _os.environ.get("SPARK_GRAFT_HUDI_LOG_BC_CAP")
    if raw is not None:
        try:
            return int(raw)
        except ValueError:
            pass
    return min(64 * 1024**2, driver_memory_bytes(spark) // 16)


def _avro_prim_for(dt) -> str:
    """Spark type → flat Avro primitive (the log codec's domain)."""
    from pyspark.sql import types as T

    m = {
        T.LongType: "long",
        T.IntegerType: "int",
        T.DoubleType: "double",
        T.FloatType: "float",
        T.StringType: "string",
        T.BooleanType: "boolean",
        T.BinaryType: "bytes",
    }
    for cls, prim in m.items():
        if isinstance(dt, cls):
            return prim
    raise HudiFeatureUnsupported(
        f"column type {dt.simpleString()} has no flat-Avro log encoding "
        "in the jar-free MoR path"
    )


def _mor_read(
    spark: SparkSession,
    path: str,
    as_of: str | None = None,
    _provenance: bool = False,
    filters: list[tuple] | None = None,
    _with_commit_time: bool = False,
) -> DataFrame:
    """Distributed merge-on-read snapshot: base slices UNION decoded
    log records, newest (instant, intra-file order) per (file group,
    record key) wins, delete-block keys drop. Log bytes never touch
    the driver — ``binaryFile`` partitions them to executors and the
    pure-Python block codec decodes them beside the data."""
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from simple_data_workflow_spark.sources import hudi_log as hlog

    groups, logs, commits, _replaces = _resolve_groups(spark, path, as_of)
    all_groups = groups
    if filters:
        # partition-path pruning before ANY scan: base files AND their
        # log files of pruned groups never schedule (a group's rows all
        # share its partition values, logs included)
        groups, logs = _prune_groups(groups, logs, filters)
    if not groups:
        if not all_groups:
            raise ValueError(
                f"no live file groups in the Hudi table at {path}"
            )
        # filters pruned EVERY group: empty result with the MoR output
        # schema (from one pre-prune base footer) instead of raising
        # (ADVICE r11 — consistent with delta_read/iceberg_read)
        any_file = sorted(p for _, p in all_groups.values())[0]
        empty = spark.read.parquet(any_file).limit(0)
        dcols = [c for c in empty.columns if not c.startswith("_hoodie_")]
        if _provenance:
            return empty.select(
                F.lit("").alias("__group"),
                F.lit("").alias("__key"),
                F.lit("").alias("__commit"),
                *dcols,
            )
        if _with_commit_time:
            return empty.select(
                *dcols, F.lit("").alias("_hoodie_commit_time")
            )
        return empty.select(*dcols)
    base_files = sorted(p for _, p in groups.values())
    base = spark.read.parquet(*base_files)
    if "_hoodie_record_key" not in base.columns:
        raise HudiFeatureUnsupported(
            "merge-on-read needs _hoodie_record_key in the base files to "
            "merge log records by key"
        )
    data_cols = [c for c in base.columns if not c.startswith("_hoodie_")]
    data_schema = T.StructType(
        [f for f in base.schema.fields if f.name in set(data_cols)]
    )

    # base rows: provenance via one broadcast (path -> group, instant) map
    import urllib.parse as _up

    from simple_data_workflow_spark.sources.delta_reader import (
        _scan_spelling,
    )

    # BOTH spellings per file: the scan's __fk percent-encodes special
    # chars while the resolved group paths are decoded
    map_pairs = {}
    for (part, fid), (instant, full) in groups.items():
        loc = _up.urlparse(full).path if "://" in full else full
        map_pairs[loc] = (f"{part}\x00{fid}", instant)
        map_pairs[_scan_spelling(loc)] = (f"{part}\x00{fid}", instant)
    from simple_data_workflow_spark.smalldf import small_df

    mapdf = small_df(
        spark,
        [(k, g, i) for k, (g, i) in sorted(map_pairs.items())],
        "__fk string, __group string, __binstant string",
    )
    # per-RECORD commit time: the base column when present (compaction
    # preserves it, so a compacted record keeps its true last-change
    # instant — real Hudi's meta-field contract), the slice instant as
    # a fallback for foreign tables without the column
    record_commit = (
        F.col("_hoodie_commit_time")
        if "_hoodie_commit_time" in base.columns
        else F.col("__binstant")
    )
    base_rows = (
        base.withColumn(
            "__fk",
            F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/"),
        )
        .join(F.broadcast(mapdf), "__fk")
        .select(
            F.col("__group"),
            F.col("__binstant").alias("__instant"),
            F.lit(-1).cast("long").alias("__ord"),
            F.lit(False).alias("__del"),
            F.col("_hoodie_record_key").alias("__key"),
            record_commit.alias("__commit"),
            *data_cols,
        )
    )

    log_paths = sorted(p for lst in logs.values() for _v, p in lst)
    if not log_paths:
        # No live logs (freshly compacted table, insert-only MoR): every
        # base row is already final — record keys are unique within a
        # file group's base slice (Hudi spec), so the (group, key)
        # window would shuffle the whole table to pick a winner among
        # one candidate each. Pass the base scan straight through.
        merged = base_rows
    else:
        # Spark's file index ignores dot-files, and the spec names log
        # files with a leading dot — stage non-hidden SYMLINKS
        # (driver-side, one per log file: metadata-sized) and key the
        # decode map by the symlink paths the scan will report
        import os as _os
        import tempfile as _tempfile

        linkdir = _tempfile.mkdtemp(prefix="sdw-hudilogs-")
        valid = set(commits)
        version_by_path = {}
        group_by_path = {}
        staged_paths = []
        for i, ((part, fid), lst) in enumerate(sorted(logs.items())):
            for v, p in lst:
                link = f"{linkdir}/log-{i}-{v}.bin"
                _os.symlink(p, link)
                staged_paths.append(link)
                version_by_path[link] = v
                group_by_path[link] = f"{part}\x00{fid}"
        log_paths = staged_paths
        out_schema = T.StructType(
            [
                T.StructField("__group", T.StringType()),
                T.StructField("__instant", T.StringType()),
                T.StructField("__ord", T.LongType()),
                T.StructField("__del", T.BooleanType()),
                T.StructField("__key", T.StringType()),
                T.StructField("__commit", T.StringType()),
            ]
            + list(data_schema.fields)
        )
        out_cols = [f.name for f in out_schema.fields]

        def decode(batches):
            for pdf in batches:
                rows = []
                for lpath, content in zip(pdf["path"], pdf["content"]):
                    local = _up.urlparse(str(lpath)).path
                    group = group_by_path.get(local)
                    if group is None:
                        continue
                    version = version_by_path[local]
                    kept = []
                    for i, blk in enumerate(
                        hlog.decode_blocks(bytes(content))
                    ):
                        instant = blk["header"].get(hlog.INSTANT_TIME)
                        if blk["type"] == hlog.COMMAND_BLOCK:
                            target = blk["header"].get(
                                hlog.TARGET_INSTANT_TIME
                            )
                            kept = [
                                k for k in kept if k[1] != target
                            ]
                            continue
                        if instant not in valid:
                            continue  # uncommitted / rolled back / >as_of
                        kept.append((i, instant, blk))
                    for i, instant, blk in kept:
                        ord_base = (int(version) << 20) | (i << 10)
                        if blk["type"] == hlog.DELETE_BLOCK:
                            for j, key in enumerate(
                                hlog.decode_delete_block(blk)
                            ):
                                rows.append(
                                    {
                                        "__group": group,
                                        "__instant": instant,
                                        "__ord": ord_base + j,
                                        "__del": True,
                                        "__key": key,
                                        "__commit": instant,
                                    }
                                )
                        elif blk["type"] == hlog.AVRO_DATA_BLOCK:
                            for j, rec in enumerate(
                                hlog.decode_avro_data_block(blk)
                            ):
                                row = {
                                    c: rec.get(c) for c in out_cols[6:]
                                }
                                row["__group"] = group
                                row["__instant"] = instant
                                row["__ord"] = ord_base + j
                                row["__del"] = False
                                row["__key"] = rec.get(
                                    "_hoodie_record_key"
                                )
                                row["__commit"] = instant
                                rows.append(row)
                        else:
                            raise HudiFeatureUnsupported(
                                f"log block type {blk['type']} needs the "
                                "Hudi runtime to decode"
                            )
                yield pd.DataFrame(rows, columns=out_cols)

        log_rows = (
            spark.read.format("binaryFile")
            .load(log_paths)
            .select("path", "content")
            .mapInPandas(decode, out_schema)
        )
        # Merge with SMALL rows (guide §8): log records are ∝ edits,
        # base rows are the whole table. Two Hudi-spec invariants make
        # the (group, key) winner decidable without co-shuffling base
        # and log rows: (a) record keys are unique within a file
        # group's base slice, and (b) every valid log record is
        # STRICTLY newer than its group's base slice (logs attach only
        # to the current slice and publish at later instants). So a key
        # touched by any log record resolves among the LOG rows alone,
        # and an untouched base row is final as-is.
        #
        # Plan choice is SIZE-ADAPTIVE (the same cost logic AQE applies
        # to join strategies): above ``_SPLIT_MERGE_MIN_BASE`` of base
        # bytes, windowing base ∪ logs would shuffle the whole table by
        # (group, key) — instead the window runs over log rows only and
        # the base scan anti-joins against the touched keys (broadcast
        # when the raw log bytes fit, removing the base-side exchange
        # entirely). Below the threshold the single windowed union is
        # strictly cheaper: the split's extra checkpoint + broadcast
        # jobs cost more driver round-trips than a small shuffle does.
        try:
            base_bytes = sum(
                _os.path.getsize(p) for _i, p in groups.values()
            )
        except OSError:
            base_bytes = None  # unstattable (object store) → big-data
        split = base_bytes is None or base_bytes >= _split_merge_min_base()
        w = Window.partitionBy("__group", "__key").orderBy(
            F.desc("__instant"), F.desc("__ord")
        )
        if split:
            log_rows = log_rows.localCheckpoint(eager=False)  # decode
            # once across the window and touched-key subtrees
            winners = (
                log_rows.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
            touched = log_rows.select("__group", "__key").distinct()
            try:
                log_bytes = sum(_os.path.getsize(p) for p in log_paths)
            except OSError:
                log_bytes = None
            if (
                log_bytes is not None
                and log_bytes <= _log_broadcast_cap(spark)
            ):
                # raw log bytes overestimate the distinct-key
                # footprint, so this is a conservative broadcast guard
                touched = F.broadcast(touched)
            base_kept = base_rows.join(
                touched, ["__group", "__key"], "left_anti"
            )
            merged = base_kept.unionByName(winners.where(~F.col("__del")))
        else:
            all_rows = base_rows.unionByName(log_rows)
            merged = all_rows.withColumn(
                "__rn", F.row_number().over(w)
            ).where((F.col("__rn") == 1) & (~F.col("__del")))
    if _provenance:  # internal: the MoR delete/compaction writers need
        # (group, key) + the winning record's true commit time
        return merged.select("__group", "__key", "__commit", *data_cols)
    if _with_commit_time:  # the incremental query's filter column
        return merged.select(
            *data_cols, F.col("__commit").alias("_hoodie_commit_time")
        )
    return merged.select(*data_cols)


def hudi_timeline_table(spark: SparkSession, path: str) -> DataFrame:
    """The table's timeline as a DataFrame (instant, action, state) —
    the ``hudi_table_changes``/timeline view's shape. Pending instants
    surface too (state = requested/inflight), so operators can see
    in-flight writes without being able to read them."""
    rows = []
    for name in _timeline_names(spark, path):
        m = re.match(
            r"^(\d+)(?:_\d+)?\.(commit|deltacommit|replacecommit|clean"
            r"|rollback)(?:\.(requested|inflight))?$",
            name,
        )
        if m:
            rows.append((m.group(1), m.group(2), m.group(3) or "completed"))
    from simple_data_workflow_spark.smalldf import small_df

    return small_df(
        spark, sorted(set(rows)), "instant string, action string, state string"
    )
