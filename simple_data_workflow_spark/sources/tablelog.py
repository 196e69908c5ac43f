"""A minimal transaction-log table format on plain parquet — the
lakehouse pattern (Delta/Iceberg-style) without any external jars.

``sources.lakehouse`` gates the real formats behind their runtimes;
this module implements the core mechanism natively so the engine has
working ACID-ish tables, snapshot isolation, and time travel anywhere
plain parquet works:

- **Layout**: ``<path>/data/<uuid>.parquet`` immutable data files +
  ``<path>/_log/<%08d>.json`` commit entries. A data file is INVISIBLE
  until a commit references it, so a writer dying mid-stage leaves
  garbage bytes, never a torn table.
- **Commit = one atomic rename** of a staged log entry to the next
  version number. Rename-if-absent is the concurrency primitive
  (atomic on local FS/HDFS; on S3 use a coordinating layer — same
  caveat the real formats carry). An append losing a race re-stages
  against the next slot (append wins are commutative); a
  read-modify-write commit (DML, compact) records the ``base`` version
  it was computed from and RAISES :class:`ConcurrentWriteConflict` if
  any other commit won in between — optimistic concurrency with real
  write-conflict detection, not silent lost updates.
- **Snapshot isolation**: a read resolves the log ONCE (replay:
  ``overwrite`` resets the file set, ``append`` extends it, ``delta``
  applies an add/remove file delta) and scans the resolved file list
  explicitly — concurrent commits cannot tear an in-flight read.
  ``version=`` gives time travel to any retained snapshot.
- **File-granular DML**: DELETE/UPDATE/MERGE rewrite ONLY the data
  files that contain affected rows (found by one predicate-pushed
  scan where parquet row-group min/max stats skip untouched files at
  footer cost) and commit an add/remove delta — a DELETE touching
  0.1% of a 100 TB table rewrites ~0.1% of it, not 100 TB.
- **Checkpoints** (``<%08d>.checkpoint.json`` = the fully resolved
  file set after that version) are written every
  :data:`CHECKPOINT_INTERVAL` commits, so snapshot resolution reads
  one checkpoint + a bounded tail instead of O(versions) entries —
  the same fix Delta's ``_last_checkpoint`` applies to log growth.
- **Vacuum** deletes data files no retained version references, gated
  by a modification-time retention window so it can never reap the
  just-staged files of a racing in-flight commit.

At 100 TB the log stays tiny (file lists, not data), reads are plain
parquet scans of the resolved files (pushdown/pruning intact), and the
per-commit cost is one rename — the same asymptotics that make the
real formats work.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from simple_data_workflow_spark.sources import tablefs
from simple_data_workflow_spark.smalldf import small_df

#: a full-state checkpoint is written after every Nth commit; snapshot
#: resolution then reads 1 checkpoint + at most N-1 tail entries.
#: per-file Bloom-filter index sizing. The DEFAULT is AUTO (spec
#: ``m=None``): each commit sizes each file's bitmap from that file's
#: OBSERVED distinct count (~10 bits/value, next power of two, floor
#: ``_BLOOM_M`` = 1 KiB, cap ``_BLOOM_M_MAX`` = 512 KiB), which holds
#: the per-file FPR near ~1% at ANY rows-per-file — a fixed m
#: saturates the moment files grow 10× (the round-8 sf0.1 failure:
#: 8192 bits over ~9,400 values ⇒ FPR ≈ 96%, pruning dead). Per-file
#: payloads are self-describing ``{m,k,t,b}``, so mixed sizes from
#: different commits coexist and replay fine. Past the cap (~400k
#: distinct values/file) FPR degrades gracefully — at that density
#: the right tool is more files, not bigger bitmaps.
_BLOOM_M = 8192
_BLOOM_M_MAX = 1 << 22
_BLOOM_BITS_PER_VALUE = 10
_BLOOM_K = 4


def _auto_bloom_m(ndv: int) -> int:
    """Bitmap size for an observed per-file distinct count: ~10 bits
    per value rounded UP to a power of two (the round-up plus the
    k=4 formula gives FPR ≈ 0.3–1.2%), clamped to
    [``_BLOOM_M``, ``_BLOOM_M_MAX``]."""
    want = max(1, int(ndv)) * _BLOOM_BITS_PER_VALUE
    m = _BLOOM_M
    while m < want and m < _BLOOM_M_MAX:
        m <<= 1
    return m

#: bloom-indexable column types: the hash input is the value's
#: CANONICAL STRING (Spark ``CAST(col AS STRING)``), which the driver
#: must reproduce exactly with ``str(value)`` — true only for strings
#: and integrals, which is also exactly where equality point-lookups
#: live (ids, uuids, emails). Floats/decimals/temporals stringify
#: differently across engines and are refused at build time.
_BLOOMABLE = (T.StringType, T.ByteType, T.ShortType, T.IntegerType, T.LongType)

CHECKPOINT_INTERVAL = 10

# ------------------------------------------ partition transforms (Iceberg)

_TRANSFORM_RE = re.compile(
    r"^\s*(years|months|days|hours|bucket|truncate)\s*\(\s*([^)]*?)\s*\)\s*$"
)
#: transforms that preserve the source column's order — a RANGE filter
#: on the raw column derives a range filter on the transformed value
#: (bucket hashes, so only equality/IN derive)
_MONOTONIC_TRANSFORMS = {"years", "months", "days", "hours", "truncate"}


def _parse_partition_field(spec: str) -> tuple[str, str, str, int | None]:
    """Parse one partition-spec field into ``(key, col, kind, param)``.
    A bare column name is the identity transform; Iceberg-style
    transforms are ``years/months/days/hours(col)`` (temporal
    bucketing), ``bucket(n, col)`` (hash bucket — md5 canonical-string,
    the same driver-reproducible hash the Bloom index uses), and
    ``truncate(w, col)`` (string prefix / integer floor-to-width).
    ``key`` is the canonical form used as the stats key."""
    if "(" not in spec:
        return spec.strip(), spec.strip(), "identity", None
    m = _TRANSFORM_RE.match(spec)
    if not m:
        raise ValueError(
            f"unsupported partition transform {spec!r} (supported: "
            "years/months/days/hours(col), bucket(n, col), "
            "truncate(w, col))"
        )
    kind = m.group(1)
    args = [a.strip() for a in m.group(2).split(",")]
    if kind in ("bucket", "truncate"):
        if len(args) != 2:
            raise ValueError(f"{kind}() takes (n, col): {spec!r}")
        param = int(args[0])
        if param <= 0:
            raise ValueError(f"{kind}() width must be positive: {spec!r}")
        return _canonical_field(kind, param, args[1]), args[1], kind, param
    if len(args) != 1:
        raise ValueError(f"{kind}() takes one column: {spec!r}")
    return _canonical_field(kind, None, args[0]), args[0], kind, None


def _canonical_field(kind: str, param: int | None, col: str) -> str:
    if kind == "identity":
        return col
    return f"{kind}({col})" if param is None else f"{kind}({param},{col})"


def _transform_expr(kind: str, param: int | None, col: str, dtype):
    """Spark Column computing the transform of ``col`` — must agree
    VALUE-FOR-VALUE with the driver-side ``_transform_value`` (the
    session runs UTC, so temporal arithmetic matches), or pruning
    would drop matching files."""
    c = F.col(col)
    if kind == "identity":
        return c
    if kind == "years":
        return F.year(c)
    if kind == "months":
        # year*100+month: sortable int, human-readable, monotonic
        return F.year(c) * F.lit(100) + F.month(c)
    if kind == "days":
        return F.datediff(c.cast("date"), F.lit("1970-01-01"))
    if kind == "hours":
        return F.floor(F.unix_timestamp(c.cast("timestamp")) / 3600).cast(
            "bigint"
        )
    if kind == "bucket":
        if not isinstance(dtype, _BLOOMABLE):
            raise ValueError(
                f"bucket() needs a string/integral column, got "
                f"{dtype.simpleString()} for {col!r}"
            )
        h = F.conv(
            F.substring(F.md5(c.cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        return F.pmod(h, F.lit(param)).cast("int")
    if kind == "truncate":
        if isinstance(dtype, T.StringType):
            return F.substring(c, 1, param)
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return c - F.pmod(c, F.lit(param))
        raise ValueError(
            f"truncate() needs a string/integral column, got "
            f"{dtype.simpleString()} for {col!r}"
        )
    raise ValueError(f"unknown transform {kind!r}")


def _transform_value(kind: str, param: int | None, v):
    """Driver-side transform of a FILTER value — the Python twin of
    ``_transform_expr``. Returns None when the value's canonical form
    cannot be reproduced here (wrong type): the caller then derives no
    evidence and pruning stays conservative."""
    import hashlib

    if kind == "identity":
        return v
    if kind in ("years", "months", "days"):
        if isinstance(v, str):
            try:
                v = datetime.date.fromisoformat(v[:10])
            except ValueError:
                return None
        if isinstance(v, datetime.datetime):
            v = v.date()
        if not isinstance(v, datetime.date):
            return None
        if kind == "years":
            return v.year
        if kind == "months":
            return v.year * 100 + v.month
        return (v - datetime.date(1970, 1, 1)).days
    if kind == "hours":
        if isinstance(v, str):
            try:
                v = datetime.datetime.fromisoformat(v.replace(" ", "T"))
            except ValueError:
                return None
        if isinstance(v, datetime.date) and not isinstance(
            v, datetime.datetime
        ):
            v = datetime.datetime(v.year, v.month, v.day)
        if not isinstance(v, datetime.datetime):
            return None
        if v.tzinfo is None:
            # session timezone is UTC (session.tune); naive == UTC
            v = v.replace(tzinfo=datetime.timezone.utc)
        return int(v.timestamp() // 3600)
    if kind == "bucket":
        if isinstance(v, bool) or not isinstance(v, (str, int)):
            return None
        return int(hashlib.md5(str(v).encode()).hexdigest()[0:15], 16) % param
    if kind == "truncate":
        if isinstance(v, str):
            return v[:param]
        if isinstance(v, bool) or not isinstance(v, int):
            return None
        return v - v % param
    return None


#: transforms whose Spark-side expression AND driver-side value twin
#: both depend on the session timezone being UTC (date/hour extraction
#: of instants); bucket/truncate/identity are timezone-free
_TEMPORAL_TRANSFORMS = {"years", "months", "days", "hours"}


def _session_utc(spark: SparkSession) -> bool:
    try:
        return spark.conf.get("spark.sql.session.timeZone") == "UTC"
    except Exception:
        return False


def _utc_normalize_filters(
    spark: SparkSession, schema_str: str, filters: list[tuple]
) -> list[tuple]:
    """Rewrite naive temporal filter literals on TIMESTAMP columns into
    the UTC instant the session means. Timestamp stats serialize as UTC
    isoformat and the hidden-partitioning twin ``_transform_value`` is
    fixed to UTC, while a naive literal in a filter is interpreted in
    the SESSION timezone by the row-level comparison — without this
    rewrite a non-UTC reader's pruning could drop files whose rows the
    row-level filter keeps (ADVICE r9, generalized from derived
    transforms to plain min/max stats). No-op under a UTC session.
    Values that fail to parse pass through untouched (pruning on them
    stays conservative via the existing type guards)."""
    if _session_utc(spark):
        return filters
    try:
        from zoneinfo import ZoneInfo

        tz = ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
    except Exception:
        return filters
    from pyspark.sql.types import _parse_datatype_string

    ts_cols = {
        f.name
        for f in _parse_datatype_string(schema_str)
        if isinstance(f.dataType, T.TimestampType)
    }

    def one(v):
        if isinstance(v, str):
            try:
                v = datetime.datetime.fromisoformat(v.replace(" ", "T"))
            except ValueError:
                return None
        if isinstance(v, datetime.date) and not isinstance(
            v, datetime.datetime
        ):
            v = datetime.datetime(v.year, v.month, v.day)
        if not isinstance(v, datetime.datetime):
            return None
        if v.tzinfo is None:
            v = v.replace(tzinfo=tz)  # naive literal = session wall time
        return (
            v.astimezone(datetime.timezone.utc)
            .replace(tzinfo=None)
            .isoformat()
        )

    out = []
    for c, o, v in filters:
        if c in ts_cols:
            if o == "in":
                nv = [one(x) for x in v]
                v = [n if n is not None else x for n, x in zip(nv, v)]
            else:
                nv = one(v)
                v = nv if nv is not None else v
        out.append((c, o, v))
    return out


def _derive_transform_filters(
    partition_by: list[str] | None, pfilters: list[tuple], cmap: dict | None,
    utc_ok: bool = True,
) -> list[tuple]:
    """Derived pruning filters on TRANSFORMED partition values: a
    filter on the raw column becomes membership/range evidence against
    the canonical transform key's recorded per-file value sets.
    Equality/IN derive for every transform; range filters derive only
    for ORDER-PRESERVING transforms, with strict bounds relaxed
    (``ts > V`` ⇒ ``days(ts) >= days(V)`` — same-day later rows
    qualify). Purely additive: row-level filtering stays on the raw
    column, so a missed derivation costs pruning, never correctness."""
    out: list[tuple] = []
    for spec in partition_by or []:
        _, col, kind, param = _parse_partition_field(spec)
        if kind == "identity":
            continue
        if kind in _TEMPORAL_TRANSFORMS and not utc_ok:
            continue  # non-UTC reader: pruning off, correctness intact
        pcol = (cmap or {}).get(col, col)
        pkey = _canonical_field(kind, param, pcol)
        for c, o, v in pfilters:
            if c != pcol:
                continue
            if o in ("=", "==", "in"):
                vals = list(v) if o == "in" else [v]
                tv = [_transform_value(kind, param, x) for x in vals]
                if all(t is not None for t in tv):
                    out.append((pkey, "in", tv))
            elif o in ("<", "<=", ">", ">=") and kind in _MONOTONIC_TRANSFORMS:
                t = _transform_value(kind, param, v)
                if t is not None:
                    out.append((pkey, "<=" if o in ("<", "<=") else ">=", t))
    return out


def _cluster_exprs(df: DataFrame, partition_by: list[str], cmap: dict | None = None):
    """Clustering Columns for a partition spec over ``df`` — pass
    ``cmap`` when ``df`` carries PHYSICAL column names."""
    out = []
    for spec in partition_by:
        _, col, kind, param = _parse_partition_field(spec)
        c = (cmap or {}).get(col, col)
        out.append(_transform_expr(kind, param, c, df.schema[c].dataType))
    return out


class ConcurrentWriteConflict(RuntimeError):
    """A read-modify-write commit (DML/compact) found that the table
    advanced past the snapshot it was computed from. Re-run the
    operation against the current snapshot — blindly retrying would
    silently discard the interleaved commit (lost update), which is
    exactly what the real formats' ConcurrentModificationException
    exists to prevent."""


# ---------------------------------------------------------------- fs helpers


def _list_log(spark: SparkSession, path: str) -> tuple[list[int], list[int]]:
    """(entry versions, checkpoint versions), each sorted ascending."""
    names = tablefs.list_dir(spark, f"{path}/_log") or []
    entries, cps = [], []
    for name in names:
        if name.startswith("."):
            continue
        if name.endswith(".checkpoint.json"):
            cps.append(int(name[: -len(".checkpoint.json")]))
        elif name.endswith(".json"):
            entries.append(int(name[:-5]))
    return sorted(entries), sorted(cps)


def _read_json(spark: SparkSession, path: str, name: str) -> dict:
    return json.loads(tablefs.read_file(spark, f"{path}/_log/{name}"))


def _write_json_if_absent(
    spark: SparkSession, path: str, name: str, payload: dict
) -> bool:
    """Publish ``payload`` as ``_log/name`` if-absent — the atomic
    commit primitive (``tablefs.publish_if_absent``). Returns whether
    the publish won."""
    return tablefs.publish_if_absent(
        spark, f"{path}/_log", name, json.dumps(payload).encode("utf-8")
    )


# ------------------------------------------------------------- log resolve


def _resolve_state(
    spark: SparkSession, path: str, version: int | None
) -> dict:
    """Resolve ``{"version", "files", "schema"}`` at ``version`` (or
    latest): start from the newest checkpoint at-or-before it, replay
    the ≤ CHECKPOINT_INTERVAL tail entries after it. Bounded log reads
    per resolve regardless of table age."""
    entries, cps = _list_log(spark, path)
    if not entries and not cps:
        raise FileNotFoundError(f"no table log under {path}")
    latest = max(entries[-1] if entries else -1, cps[-1] if cps else -1)
    upto = latest if version is None else version
    if upto not in set(entries) | set(cps):
        raise ValueError(
            f"version {upto} not in retained log (entries {entries}, "
            f"checkpoints {cps})"
        )
    start_cp = max((c for c in cps if c <= upto), default=None)
    files: list[str] = []
    stats: dict = {}
    schema: str | None = None
    src_version: int | None = None
    partition_by: list[str] | None = None
    bloom: dict | None = None
    column_map: dict = {}
    used_physicals: list[str] = []
    constraints: dict = {}
    tags: dict = {}
    fvers: dict = {}
    dvs: list[str] = []
    dv_counts: dict = {}
    if start_cp is not None:
        cp = _read_json(spark, path, f"{start_cp:08d}.checkpoint.json")
        files, schema = list(cp["files"]), cp.get("schema")
        stats = dict(cp.get("stats", {}))
        src_version = cp.get("src_version")
        partition_by = cp.get("partition_by")
        bloom = cp.get("bloom")
        column_map = dict(cp.get("column_map", {}))
        used_physicals = list(cp.get("used_physicals", []))
        constraints = dict(cp.get("constraints", {}))
        tags = {k: int(v) for k, v in cp.get("tags", {}).items()}
        dvs = list(cp.get("dvs", []))
        dv_counts = dict(cp.get("dv_counts", {}))
        # per-file commit provenance; legacy checkpoints without it
        # fall back to "at or before the checkpoint version"
        fvers = {f: int(v) for f, v in cp.get("file_versions", {}).items()}
        for f in files:
            fvers.setdefault(f, start_cp)
        replay_from = start_cp + 1
    else:
        if entries[0] != 0:
            raise ValueError(
                f"history before version {entries[0]} was truncated and no "
                f"checkpoint covers version {upto}"
            )
        replay_from = 0
    for v in entries:
        if v < replay_from or v > upto:
            continue
        e = _read_json(spark, path, f"{v:08d}.json")
        action = e["action"]
        if action == "overwrite":
            files = list(e["files"])
            stats = dict(e.get("stats", {}))
            fvers = {f: v for f in files}
            # an overwrite REPLACES the deletion-vector set: a plain
            # overwrite/compact clears it (fresh file list, DVs
            # applied or irrelevant); restore/clone carry the target
            # snapshot's DVs explicitly
            dvs = list(e.get("dvs", []))
            dv_counts = dict(e.get("dv_counts", {}))
        elif action == "append":
            files.extend(e["files"])
            stats.update(e.get("stats", {}))
            for f in e["files"]:
                fvers[f] = v
        elif action == "delta":
            removed = set(e["remove"])
            files = [f for f in files if f not in removed]
            files.extend(e["add"])
            stats = {f: s for f, s in stats.items() if f not in removed}
            stats.update(e.get("stats", {}))
            fvers = {f: fv for f, fv in fvers.items() if f not in removed}
            for f in e["add"]:
                fvers[f] = v
            # a rewritten file's DV rows are dead weight (the file is
            # no longer scanned, so the anti-join never matches) but
            # its COUNT must drop or metadata-only COUNT(*) undercounts
            dv_counts = {
                f: n for f, n in dv_counts.items() if f not in removed
            }
        elif action == "dv":
            # merge-on-read DML: row-position deletion vectors over
            # unchanged data files; a MoR UPDATE additionally appends
            # the postimage rows as new files in the same atomic entry
            dvs.extend(e.get("dv_add", []))
            for f, n in e.get("dv_counts", {}).items():
                dv_counts[f] = dv_counts.get(f, 0) + int(n)
            files.extend(e.get("add", []))
            stats.update(e.get("stats", {}))
            for f in e.get("add", []):
                fvers[f] = v
        elif action == "meta":
            # metadata-only commit (RENAME/DROP COLUMN, spec changes):
            # zero file-list movement; the schema/column_map/spec keys
            # are picked up by the generic tracking below
            pass
        else:  # pragma: no cover - future-proofing
            raise ValueError(f"unknown log action {action!r} at version {v}")
        schema = e.get("schema", schema)
        # application cursor (materialized views): NEWEST entry that
        # carries it wins; entries without it (compact, restore of a
        # cursor-less target, plain maintenance) keep the prior value,
        # so maintenance commits never mask the cursor
        if e.get("src_version") is not None:
            src_version = int(e["src_version"])
        # partitioning spec: last entry that declares it wins ([] =
        # explicitly unpartitioned); entries without it inherit
        if "partition_by" in e:
            partition_by = e["partition_by"]
        # bloom-index spec: same last-declarer-wins contract ({} or
        # {"cols": []} drops it); per-file bitmaps ride stats and stay
        # valid regardless — the spec only directs FUTURE writes
        if "bloom" in e:
            bloom = e["bloom"]
        # column mapping (metadata-only RENAME/DROP COLUMN): the map
        # translates the logged LOGICAL schema to the files' stable
        # PHYSICAL names; used_physicals prevents a later re-added
        # column from resurrecting a dropped physical's data
        if "column_map" in e:
            column_map = dict(e["column_map"])
        if "used_physicals" in e:
            used_physicals = list(e["used_physicals"])
        # CHECK constraints: per-entry dict merges (value None drops)
        for k, vv in e.get("constraints", {}).items():
            if vv is None:
                constraints.pop(k, None)
            else:
                constraints[k] = vv
        # tags (named version anchors): same per-entry merge contract
        # as constraints — ``None`` deletes, else (re)points the name
        for k, vv in e.get("tags", {}).items():
            if vv is None:
                tags.pop(k, None)
            else:
                tags[k] = int(vv)
    return {
        "version": upto,
        "files": files,
        "schema": schema,
        "stats": stats,
        "src_version": src_version,
        "partition_by": partition_by,
        "bloom": bloom,
        "column_map": column_map,
        "used_physicals": used_physicals,
        "constraints": constraints,
        "tags": tags,
        "file_versions": fvers,
        "dvs": dvs,
        "dv_counts": dv_counts,
    }


def _entry_adds(e: dict) -> list[str]:
    """Data files a log entry introduces (``files`` for append /
    overwrite, ``add`` for delta, ``dv_add`` for deletion vectors —
    DV sidecars live under ``data/`` and must count as referenced or
    vacuum would reap them). A delta's ``remove`` list is NOT a
    reference — those files are referenced by the OLDER entries that
    added them, which is what keeps them time-travelable."""
    return (
        list(e.get("files", []))
        + list(e.get("add", []))
        + list(e.get("dv_add", []))
    )


# ------------------------------------------------------------------ commit


def _stage_data_files(df: DataFrame, path: str, writer=None) -> list[str]:
    """Write ``df`` under ``data/.stage-*`` (invisible), move each
    parquet part to a uuid name directly under ``data/``, return the
    names. Files stay invisible until a log entry references them."""
    spark = df.sparkSession
    staging = f"{path}/data/.stage-{uuid.uuid4().hex}"
    if writer is not None:
        writer(df, staging)
    else:
        df.write.mode("overwrite").parquet(staging)
    files = []
    src = tablefs.local_root(staging) or staging
    for rel, _, _ in tablefs.staged_files(spark, staging):
        if rel.endswith(".parquet"):
            final = f"{uuid.uuid4().hex}.parquet"
            tablefs.move(spark, f"{src}/{rel}", f"{path}/data/{final}")
            files.append(final)
    tablefs.remove(spark, staging, recursive=True)
    return files


def _maybe_checkpoint(spark: SparkSession, path: str, version: int) -> None:
    """Best-effort full-state checkpoint after a won commit. Failure is
    harmless (resolution falls back to replaying more entries), so it
    never fails the commit that already succeeded."""
    if version <= 0 or version % CHECKPOINT_INTERVAL != 0:
        return
    with contextlib.suppress(Exception):
        state = _resolve_state(spark, path, version)
        payload = {
            "files": state["files"],
            "schema": state["schema"],
            "stats": state["stats"],
        }
        # checkpoints must carry the application cursor: truncation may
        # later delete every cursor-bearing ENTRY, and a checkpoint
        # without it would reset a materialized view's cursor to "never
        # refreshed" — the silent-double-count hazard
        if state.get("src_version") is not None:
            payload["src_version"] = state["src_version"]
        if state.get("partition_by") is not None:
            payload["partition_by"] = state["partition_by"]
        if state.get("bloom") is not None:
            payload["bloom"] = state["bloom"]
        if state.get("column_map"):
            payload["column_map"] = state["column_map"]
        if state.get("used_physicals"):
            payload["used_physicals"] = state["used_physicals"]
        if state.get("constraints"):
            payload["constraints"] = state["constraints"]
        if state.get("tags"):
            payload["tags"] = state["tags"]
        payload["file_versions"] = state.get("file_versions", {})
        # deletion vectors are part of snapshot state: a checkpoint
        # without them would resurrect MoR-deleted rows after log
        # truncation
        if state.get("dvs"):
            payload["dvs"] = state["dvs"]
            payload["dv_counts"] = state.get("dv_counts", {})
        _write_json_if_absent(
            spark, path, f"{version:08d}.checkpoint.json", payload
        )


def _commit_entry(
    spark: SparkSession,
    path: str,
    entry: dict,
    base: int | None = None,
    max_retries: int = 10,
    on_retry=None,
) -> int:
    """Publish ``entry`` into the next log slot.

    ``base`` is the snapshot version a read-modify-write commit was
    computed from: the entry may then ONLY land in slot ``base + 1``;
    any interleaved commit raises :class:`ConcurrentWriteConflict`
    instead of silently dropping it. ``base=None`` (appends, blind
    overwrites) retries freely — those carry no read dependency beyond
    what ``on_retry`` re-checks: appends pass their schema validation
    here, which returns the version it validated against, and the
    publish targets EXACTLY that version's successor slot — so an
    append can never land after an unseen interleaved commit (e.g. a
    schema evolution it was not validated against; last-writer-wins
    schema replay would silently revert the evolution otherwise).
    """
    for _ in range(max_retries):
        pinned = on_retry() if on_retry is not None else None
        entries, cps = _list_log(spark, path)
        latest = max(entries[-1] if entries else -1, cps[-1] if cps else -1)
        if pinned is not None and latest != pinned:
            continue  # a commit landed after validation — re-validate
        next_v = latest + 1
        if base is not None and next_v != base + 1:
            raise ConcurrentWriteConflict(
                f"{entry.get('op', entry['action'])} at {path} was computed "
                f"against version {base} but the table advanced to {latest}; "
                "re-run against the current snapshot"
            )
        # wall-clock commit time, refreshed per publish attempt — the
        # durable basis for AS OF timestamp time travel (entry mtime is
        # the legacy fallback but does not survive a file copy)
        entry["ts"] = int(time.time() * 1000)
        if _write_json_if_absent(spark, path, f"{next_v:08d}.json", entry):
            _maybe_checkpoint(spark, path, next_v)
            return next_v
        # lost the publish race; loop re-lists (and, with a base, the
        # next iteration raises the conflict)
    raise RuntimeError(f"commit lost {max_retries} races at {path}")


def table_commit(
    df: DataFrame,
    path: str,
    mode: str = "append",
    max_retries: int = 10,
    base: int | None = None,
    collect_stats: bool = True,
    evolve_schema: bool = False,
    partition_by: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_m: int | None = None,
    bloom_k: int = _BLOOM_K,
    stream_batch_id: int | None = None,
    stream_app_id: str | None = None,
) -> int:
    """Commit ``df`` as one atomic version; returns the version number.

    Data files stage under ``data/`` first (invisible), then the log
    entry is staged and renamed to the next version slot. An append
    losing the rename race retries against the following slot (the
    staged data files are reused — a retry costs one small rename, not
    a rewrite). An ``overwrite`` computed FROM a snapshot should pass
    ``base=`` that snapshot's version: it then conflicts instead of
    silently discarding an interleaved commit. ``base=None`` overwrite
    is the blind replace-table-contents form and retries freely.

    ``partition_by=[col, ...]`` declares partition columns: the batch
    is hash-clustered on them before staging (each value combo lands
    in exactly one file of the batch) and every commit records each
    file's distinct partition values in the log, so partition-key
    filters in ``table_scan`` prune files by EXACT membership with no
    range-stats looseness — the log-native form of hive partitioning,
    minus the small-file explosion (a file may carry several values).
    Omit it on later commits: appends and DML inherit the table's
    declared spec (recorded in the log) and keep their rewritten files
    prunable; pass ``[]`` on an overwrite to unpartition.

    Fields may also be Iceberg-style TRANSFORMS — ``"days(ts)"`` /
    ``"months(ts)"`` / ``"years(ts)"`` / ``"hours(ts)"``,
    ``"bucket(n, col)"`` (md5 canonical-string hash, driver-
    reproducible), ``"truncate(w, col)"`` (string prefix / integer
    floor) — the HIDDEN-partitioning shape: the batch clusters on the
    transformed value, the log records each file's distinct
    TRANSFORMED values, and ``table_scan`` filters on the RAW column
    still prune (equality/IN derive membership probes for every
    transform; ranges derive for the order-preserving ones). No
    generated column is stored; a high-cardinality timestamp
    partitions by day without the small-file explosion raw-value
    partitioning would cause.

    ``bloom_cols=[col, ...]`` declares a per-file Bloom-filter index
    (Delta's BLOOMFILTER INDEX shape): every commit records a
    ``bloom_k``-probe bitmap per file per column in the log, and
    ``table_scan`` prunes files whose bitmaps PROVE an equality/IN
    value absent — the evidence min/max cannot give on
    high-cardinality columns (a uuid's range spans everything). The
    default ``bloom_m=None`` AUTO-SIZES each file's bitmap from its
    observed distinct count (~10 bits/value, power of two, 1 KiB
    floor / 512 KiB cap), holding FPR near ~1% at any rows-per-file —
    pass an explicit ``bloom_m`` only to pin log size over pruning
    power. Only string/integral columns qualify (the hash input is
    the canonical string, which the driver must reproduce exactly).
    Like ``partition_by``, the spec rides the log: later appends and
    DML rewrites inherit it and stay prunable; pass ``[]`` to drop
    it — existing files' bitmaps are self-describing and keep pruning.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be 'append' or 'overwrite', got {mode!r}")
    spark = df.sparkSession
    if stream_batch_id is not None:
        # foreachBatch replay dedup (the same (txnAppId, txnVersion)
        # mechanism Delta's idempotent writes use): a batch id already
        # in the log UNDER THE SAME APP ID is a no-op, upgrading
        # at-least-once delivery to exactly-once table contents.
        # Dedup is scoped to ``stream_app_id`` (derive it from the
        # query's checkpoint location): a pipeline restarted against
        # the same table with a FRESH checkpoint gets fresh batch ids
        # 0..N AND a fresh app id, so its batches no longer collide
        # with history and silently vanish (the pre-r10 hazard of
        # keying on the bare monotonic id). Per-app batch ids are
        # monotonic, so the newest-first scan decides at the FIRST
        # same-app entry (== replay, < new) — O(interleaved other
        # writers), not O(history). ``stream_app_id=None`` keeps the
        # legacy single-query-per-table semantics and only matches
        # entries that also carry no app id.
        entries_now, _ = _list_log(spark, path)
        for v in reversed(entries_now):
            e = _read_json(spark, path, f"{v:08d}.json")
            sbid = e.get("stream_batch_id")
            if sbid is None or e.get("stream_app_id") != stream_app_id:
                continue  # non-stream or another query's sequence
            if sbid == stream_batch_id:
                return v  # replayed batch: already live
            break  # newest same-app id is older: genuinely new batch
    try:
        _cur = _resolve_state(spark, path, None)
    except FileNotFoundError:
        _cur = None
    declared = partition_by is not None
    if partition_by is None and _cur is not None:
        partition_by = _cur.get("partition_by")
    bloom_declared = bloom_cols is not None
    bloom = (
        {
            "cols": list(bloom_cols),
            "m": None if bloom_m is None else int(bloom_m),
            "k": int(bloom_k),
        }
        if bloom_declared
        else (_cur or {}).get("bloom")
    )
    if bloom_declared and bloom_cols:
        bad = [
            c
            for c in bloom_cols
            if c not in df.columns
            or not isinstance(df.schema[c].dataType, _BLOOMABLE)
        ]
        if bad:
            raise ValueError(
                f"bloom_cols must be string/integral batch columns; bad: "
                f"{bad} (batch {df.schema.simpleString()})"
            )
    # CHECK constraints: enforced on every batch before it can stage —
    # one scan; the CAS loop below re-enforces if the constraint set
    # changes under the commit (a racing ADD CONSTRAINT conflicts or
    # is re-checked, never slips past)
    _enforced = {"constraints": dict((_cur or {}).get("constraints") or {})}
    _enforce_constraints(df, _enforced["constraints"], path, f"{mode} batch")
    if partition_by:
        parsed = [_parse_partition_field(s) for s in partition_by]
        if any(k in _TEMPORAL_TRANSFORMS for _, _, k, _ in parsed) and (
            not _session_utc(spark)
        ):
            # days()/hours()/months()/years() cluster and record values
            # via the SESSION's timezone, while the driver-side pruning
            # twin (_transform_value) is fixed to UTC — a non-UTC
            # writer would record values that make derived pruning
            # silently drop matching files later. Refuse loudly at the
            # only point that can poison the log (ADVICE r9).
            raise ValueError(
                "temporal partition transforms require "
                "spark.sql.session.timeZone=UTC in the writing session "
                "(session.tune() sets it); recorded partition values "
                "would otherwise disagree with the UTC pruning twin"
            )
        missing = [c for _, c, _, _ in parsed if c not in df.columns]
        if missing:
            raise ValueError(
                f"partition_by columns {missing} not in batch columns "
                f"{df.columns}"
            )
        # explicit partition count pins the clustering fan-out — with
        # only the columns, AQE would coalesce a small batch into one
        # file and every value combo would share it (no pruning).
        # Transforms cluster on the TRANSFORMED value (days/bucket/...)
        # so each file holds few transformed values — the Iceberg
        # hidden-partitioning shape: queries filter the raw column and
        # still prune.
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        df = df.repartition(
            n,
            *[
                _transform_expr(kind, param, col, df.schema[col].dataType)
                for _, col, kind, param in parsed
            ],
        )

    def _validate_append_schema() -> int:
        """Batch schema vs the CURRENT table schema; raises on drift.
        Returns the table version the validation read — the commit
        loop publishes ONLY to that version's successor slot and
        re-validates whenever the table moved, so a stale append can
        never land after an interleaved ``evolve_schema`` commit
        (replay's last-writer-wins schema would silently revert the
        evolution otherwise)."""
        try:
            state = _resolve_state(spark, path, None)
            prev, seen = state["schema"], int(state["version"])
            newc = state.get("constraints") or {}
        except FileNotFoundError:
            prev, seen, newc = None, -1, {}
        if newc != _enforced["constraints"]:
            # an ADD/DROP CONSTRAINT interleaved since the last check
            _enforce_constraints(df, newc, path, f"{mode} batch")
            _enforced["constraints"] = newc
        cur = df.schema.simpleString()
        if prev is None or prev == cur:
            return seen
        if evolve_schema:
            # METADATA-ONLY schema evolution, the real formats' add-
            # column path: the batch must carry every existing column
            # at its exact type (reads match parquet columns by name,
            # and a silent type change would break the union scan);
            # net-new columns are fine — pre-evolution files surface
            # them as NULL because every snapshot read passes the
            # logged schema explicitly. No data file is rewritten,
            # which is the entire point at 100 TB.
            from pyspark.sql.types import _parse_datatype_string

            old_fields = {
                f.name: f.dataType for f in _parse_datatype_string(prev)
            }
            new_fields = {f.name: f.dataType for f in df.schema}
            bad = [
                n
                for n, t in old_fields.items()
                if n not in new_fields or new_fields[n] != t
            ]
            if bad:
                raise TypeError(
                    f"evolve_schema append at {path} must keep every "
                    f"existing column at its type; mismatched: {bad} "
                    f"(table {prev}, batch {cur})"
                )
            return seen
        else:
            # a silently-mismatched append would poison every later
            # snapshot read (parquet union of incompatible files)
            raise TypeError(
                f"append schema drift at {path}: table has {prev}, "
                f"batch has {cur} — align the batch, or pass "
                "evolve_schema=True to add columns metadata-only"
            )

    def _recheck_constraints() -> int:
        """Overwrite-mode CAS check: re-enforce constraints if the set
        changed since the last check; returns the version read so the
        publish pins to its successor."""
        try:
            state = _resolve_state(spark, path, None)
            seen = int(state["version"])
            newc = state.get("constraints") or {}
        except FileNotFoundError:
            seen, newc = -1, {}
        if newc != _enforced["constraints"]:
            _enforce_constraints(df, newc, path, f"{mode} batch")
            _enforced["constraints"] = newc
        return seen

    if mode == "append":
        _validate_append_schema()
    # column mapping: batches arrive LOGICAL; files store PHYSICAL.
    # A net-new column whose default physical name was ever used by a
    # since-dropped/renamed column gets a FRESH physical — otherwise
    # old files would resurrect the retired column's data under it.
    cmap = dict((_cur or {}).get("column_map") or {})
    used = list((_cur or {}).get("used_physicals") or [])
    cur_fields: set = set()
    if _cur is not None and _cur.get("schema"):
        from pyspark.sql.types import _parse_datatype_string

        cur_fields = {f.name for f in _parse_datatype_string(_cur["schema"])}
    map_grew = False
    if cmap or used:
        taken = {cmap.get(c, c) for c in df.columns if c in cur_fields or c in cmap}
        retired = set(used) - {cmap.get(n, n) for n in cur_fields}
        for c in df.columns:
            if c in cur_fields or c in cmap:
                continue
            if c in retired or c in taken:
                cmap[c] = f"{c}__{uuid.uuid4().hex[:8]}"
                map_grew = True
                taken.add(cmap[c])
            else:
                taken.add(c)
    files = _stage_data_files(_to_physical(df, cmap), path)
    entry = {"action": mode, "files": files, "schema": df.schema.simpleString()}
    if collect_stats:
        entry["stats"] = _collect_stats(
            spark, path, files, partition_cols=partition_by, bloom=bloom,
            cmap=cmap,
        )
        if len(entry["stats"]) < len(files):
            # zero-row staged files (hash clustering with fewer value
            # combos than shuffle partitions leaves empty outputs):
            # drop them from the commit and the disk — every absent
            # stats key is provably empty because the stats aggregate
            # emits a "__rows" row for any file with ≥ 1 row. Fewer
            # objects to list, fewer footers to ever open.
            empties = [f for f in files if f not in entry["stats"]]
            files = [f for f in files if f in entry["stats"]]
            entry["files"] = files
            for f in empties:
                tablefs.remove(spark, _data_path(path, f))
    if declared:
        entry["partition_by"] = partition_by
    if bloom_declared:
        entry["bloom"] = bloom
    if map_grew:
        entry["column_map"] = cmap
        entry["used_physicals"] = sorted(
            set(used) | {cmap.get(c, c) for c in df.columns}
        )
    if stream_batch_id is not None:
        entry["stream_batch_id"] = int(stream_batch_id)
        if stream_app_id is not None:
            entry["stream_app_id"] = str(stream_app_id)
    if base is not None:
        entry["base"] = base
    # both modes re-validate in the CAS loop (appends: schema +
    # constraints; overwrites: constraints — the schema branch is a
    # no-op for them because overwrite redefines the schema)
    return _commit_entry(
        spark, path, entry, base=base, max_retries=max_retries,
        on_retry=_validate_append_schema if mode == "append" else _recheck_constraints,
    )


# --------------------------------------------------- per-file column stats

#: columns of these atomic types get min/max/null-count stats recorded
#: in the commit log for driver-side file skipping
_SKIPPABLE = (
    T.NumericType,
    T.StringType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
    T.BooleanType,
)
#: string min/max longer than this are dropped from the stats rather
#: than truncated — a truncated max is no longer an upper bound
_MAX_STAT_STR = 64

#: per-file distinct-value sets are recorded for partition columns up
#: to this cardinality PER FILE; a file exceeding it falls back to
#: min/max stats (a "partition" column with many values per file is
#: not partitioned data — the cap keeps the log tiny)
_MAX_PART_VALUES = 32

def _bloom_positions(value, m: int, k: int) -> list[int] | None:
    """Driver-side probe positions for ``value`` under an (m, k) Bloom
    filter — MD5 double-hashing (Kirsch-Mitzenmacher), matching the
    Spark-side build bit-for-bit: both hash the canonical string's
    UTF-8 bytes with MD5 and derive position_i = (h1 + i*h2) mod m from
    hex digits [0:15) and [16:31). Returns None when the value's
    canonical form cannot be reproduced driver-side (non-str/int) —
    the caller must then skip bloom evidence for it."""
    import hashlib

    if isinstance(value, bool) or not isinstance(value, (str, int)):
        return None
    d = hashlib.md5(str(value).encode("utf-8")).hexdigest()
    h1, h2 = int(d[0:15], 16), int(d[16:31], 16)
    return [(h1 + i * h2) % m for i in range(k)]


def _bloom_maybe(meta: dict, value) -> bool:
    """Can ``value`` be present given a file's per-column bloom
    ``meta`` = {"m","k","t","b"(base64 bitmap)}? Conservative: any
    doubt (unprobeable value, type mismatch with the column's
    canonical category) returns True."""
    import base64

    t = meta.get("t")
    if t == "s" and not isinstance(value, str):
        return True
    if t == "i" and (isinstance(value, bool) or not isinstance(value, int)):
        return True
    pos = _bloom_positions(value, int(meta["m"]), int(meta["k"]))
    if pos is None:
        return True
    bits = base64.b64decode(meta["b"])
    for p in pos:
        if not (bits[p >> 3] >> (p & 7)) & 1:
            return False  # a probe bit is unset — provably absent
    return True


def _bloom_prune(stats: dict, files: list[str], filters: list[tuple]) -> list[str]:
    """Drop files whose per-file Bloom bitmaps PROVE an equality/IN
    filter cannot match — the evidence min/max ranges and partition
    membership cannot give on a high-cardinality column (a uuid's
    min/max spans everything; its bloom pins it to a few files). Pure
    function over the same serialized stats ``_stats_prune`` reads;
    composes with it (both are conservative-keep)."""
    eqs = [(c, o, v) for c, o, v in filters if o in ("=", "==", "in")]
    if not eqs:
        return files
    out = []
    for f in files:
        per_col = stats.get(f, {})
        blooms = per_col.get("__bloom") or {}
        keep = True
        for c, o, v in eqs:
            meta = blooms.get(c)
            if meta is None:
                continue
            cand = list(v) if o == "in" else [v]
            if not any(_bloom_maybe(meta, x) for x in cand):
                keep = False
                break
        if keep:
            out.append(f)
    return out


def _collect_blooms(
    spark: SparkSession, path: str, files: list[str], bloom: dict
) -> dict:
    """Per-file Bloom bitmaps for ``bloom["cols"]`` over just-staged
    ``files``. One grouped aggregate per column, fully JVM-side: MD5 of
    the canonical string → two 60-bit halves → k probe positions →
    per-(file, word) ``bit_or`` of single-bit masks — at most m/64 rows
    per file per column cross the collect, never a row per value.

    Spec ``m=None`` (the default) AUTO-SIZES each file's bitmap from
    its observed ``approx_count_distinct`` (one extra sizing aggregate
    over the same page-warm files, collected as one row per file): the
    per-file FPR then holds near ~1% regardless of rows-per-file,
    where a fixed m saturates at the first 10× scale-up. The per-file
    m rides the position expression as a literal file→m map (commits
    stage a bounded file count), so the build stays ONE aggregate per
    column even with heterogeneous sizes. Returns
    ``{file: {col: {"m","k","t","b"}}}`` — self-describing payloads,
    so mixed-size bitmaps across commits probe correctly forever."""
    import base64
    from itertools import chain

    m_spec = bloom.get("m", _BLOOM_M)
    k = int(bloom.get("k", _BLOOM_K))
    scan = spark.read.parquet(*[_data_path(path, f) for f in files])
    types = {f.name: f.dataType for f in scan.schema}
    cols = [
        c
        for c in bloom.get("cols", [])
        if c in types and isinstance(types[c], _BLOOMABLE)
    ]
    if not cols:
        return {}
    out: dict = {f: {} for f in files}
    by_name = {f.rsplit("/", 1)[-1]: f for f in files}
    basename = F.element_at(F.split(F.input_file_name(), "/"), -1)
    m_for: dict[tuple[str, str], int] = {}
    if m_spec is None:
        ndv_rows = (
            scan.select(basename.alias("__f"), *cols)
            .groupBy("__f")
            .agg(*[F.approx_count_distinct(c).alias(c) for c in cols])
            .collect()
        )
        for r in ndv_rows:
            for c in cols:
                m_for[(r["__f"], c)] = _auto_bloom_m(int(r[c] or 0))
    for c in cols:
        tcat = "s" if isinstance(types[c], T.StringType) else "i"
        if m_spec is None:
            # literal basename→m map: bounded by the commit's file
            # count; coalesce covers a file the sizing pass never saw
            # (can't happen for a file with non-null rows, but cheap)
            pairs = [
                (F.lit(name), F.lit(m_for.get((name, c), _BLOOM_M)))
                for name in by_name
            ]
            m_col = F.coalesce(
                F.element_at(
                    F.create_map(*chain.from_iterable(pairs)), basename
                ),
                F.lit(_BLOOM_M),
            ).cast("bigint")
        else:
            m_col = F.lit(int(m_spec)).cast("bigint")
        h = F.md5(F.col(c).cast("string"))
        h1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint")
        h2 = F.conv(F.substring(h, 17, 15), 16, 10).cast("bigint")
        pos = F.explode(
            F.array(*[F.pmod(h1 + F.lit(i) * h2, m_col) for i in range(k)])
        ).alias("p")
        rows = (
            scan.where(F.col(c).isNotNull())
            .select(basename.alias("__f"), pos)
            .groupBy("__f", (F.col("p") / 64).cast("int").alias("w"))
            .agg(
                F.bit_or(
                    F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))")
                ).alias("b")
            )
            .collect()
        )
        words: dict[str, dict[int, int]] = {}
        for r in rows:
            words.setdefault(r["__f"], {})[int(r["w"])] = (
                int(r["b"]) & 0xFFFFFFFFFFFFFFFF
            )
        for name, wmap in words.items():
            m = (
                m_for.get((name, c), _BLOOM_M)
                if m_spec is None
                else int(m_spec)
            )
            buf = bytearray(m // 8)
            for w, v in wmap.items():
                buf[w * 8 : w * 8 + 8] = v.to_bytes(8, "little")
            ref = by_name.get(name)
            if ref is not None:
                out[ref][c] = {
                    "m": m,
                    "k": k,
                    "t": tcat,
                    "b": base64.b64encode(bytes(buf)).decode("ascii"),
                }
    return {f: cols for f, cols in out.items() if cols}


def _ser_stat(v, side):
    """JSON-safe, ORDER-PRESERVING serialization of a stat value: ISO
    strings for temporals (lexicographic == chronological), numbers and
    bools as-is, long strings dropped (None). ``side`` ("min"/"max")
    directs WIDENING for values that lose precision in a double:
    a Decimal min rounds DOWN and a Decimal max rounds UP (one ulp via
    nextafter), so the stored bound always contains the true value —
    a bound that rounded inward would prove-miss files that match
    (the same reason the real formats floor mins and ceil maxes).

    NaN bounds are DROPPED (None ⇒ no stat ⇒ the file always survives
    pruning): Spark's min/max order NaN as the largest double, so a
    single NaN row would make ``max`` NaN — and every Python comparison
    against NaN is False, which would flip ``maybe_matches`` from
    "can't prove it misses" to "prove it misses" and wrongly prune a
    file that may match."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float) and v != v:  # NaN
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, str):
        return v if len(v) <= _MAX_STAT_STR else None
    try:  # Decimal and friends: lossy double conversion — widen
        import math

        f = float(v)
        if f != v:  # exact Decimal→float compare: precision was lost
            f = math.nextafter(f, -math.inf if side == "min" else math.inf)
        return f
    except (TypeError, ValueError):  # pragma: no cover
        return None


def _local_fs_path(p: str) -> str | None:
    """Driver-reachable filesystem path for ``p``, or None when it
    lives behind a non-local scheme (object store) and footer harvest
    must fall back to the distributed stats aggregate."""
    if "://" not in p:
        return p
    if p.startswith("file:"):
        import urllib.parse

        return urllib.parse.unquote(urllib.parse.urlparse(p).path)
    return None


def _arrow_skippable(t) -> bool:
    """Arrow-type twin of :data:`_SKIPPABLE` (numeric/string/date/
    timestamp — NOT boolean/binary/nested), so the footer harvest
    records stats for exactly the columns the Spark aggregate would."""
    import pyarrow as pa

    return (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_decimal(t)
        or (pa.types.is_string(t) or pa.types.is_large_string(t))
        or pa.types.is_date(t)
        or pa.types.is_timestamp(t)
    )


def _footer_val(v):
    """Normalize a footer stat value to what the Spark collect used to
    return: tz-aware timestamps become naive UTC (the session timezone
    is pinned UTC, so Spark collected naive datetimes)."""
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def _footer_harvest(
    path: str,
    files: list[str],
    partition_cols: list[str] | None,
    cmap: dict | None,
) -> dict | None:
    """Per-file stats from the parquet FOOTERS the write already paid
    for — driver-side, metadata-sized, zero extra scan (guide §1.2/§6:
    the second full read of every staged byte that the Spark aggregate
    costs is data-proportional at commit time; real formats accumulate
    stats in the writer). Returns the same ``{file: {"__rows", col:
    [mn, mx, nulls], "__parts": ...}}`` shape as the distributed pass,
    or None when any file is unreachable/undecodable (non-local
    scheme, exotic type) — the caller then falls back.

    Semantics mirror the aggregate exactly: a bound must cover EVERY
    row group or the column records nothing (NaN groups, long strings
    and unserializable values invalidate the column, never narrow it);
    zero-row files record nothing (the caller prunes them); partition
    value sets come from a columnar read of JUST the partition columns
    transformed by the driver twin ``_transform_value`` (same bytes
    the aggregate's scan would touch, minus a Spark job)."""
    try:
        import pyarrow.parquet as pq
    except Exception:  # pragma: no cover - pyarrow is a hard dep
        return None
    pfields: list[tuple[str, tuple[str, int | None, str]]] = []
    for spec in partition_cols or []:
        _, col, kind, param = _parse_partition_field(spec)
        pcol = (cmap or {}).get(col, col)
        pfields.append((_canonical_field(kind, param, pcol), (kind, param, pcol)))
    stats: dict = {}
    for f in files:
        local = _local_fs_path(_data_path(path, f))
        if local is None:
            return None
        try:
            pf = pq.ParquetFile(local)
        except Exception:
            return None
        md = pf.metadata
        if md.num_rows == 0:
            continue  # empty staged file: no stats row, caller drops it
        names = {
            fld.name for fld in pf.schema_arrow if _arrow_skippable(fld.type)
        }
        mins: dict = {}
        maxs: dict = {}
        nulls: dict = {}
        invalid: set = set()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name or name not in names:
                    continue
                st = col.statistics
                if st is None or st.null_count is None:
                    invalid.add(name)
                    continue
                nulls[name] = nulls.get(name, 0) + st.null_count
                if not st.has_min_max:
                    # an all-null group carries no bound (harmless); a
                    # group with values but no stats poisons the bound
                    if st.null_count != col.num_values:
                        invalid.add(name)
                    continue
                lo = _ser_stat(_footer_val(st.min), "min")
                hi = _ser_stat(_footer_val(st.max), "max")
                if lo is None or hi is None:
                    invalid.add(name)
                    continue
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
        per_col: dict = {"__rows": int(md.num_rows)}
        for name in names - invalid:
            if name in mins and name in maxs:
                per_col[name] = [mins[name], maxs[name], int(nulls.get(name, 0))]
        parts: dict = {}
        for key, (kind, param, pcol) in pfields:
            if pcol not in {fld.name for fld in pf.schema_arrow}:
                continue
            try:
                raw = pf.read(columns=[pcol]).column(0)
            except Exception:
                return None
            try:
                import pyarrow.compute as pc

                raw = pc.unique(raw)
            except Exception:
                pass
            vals = {v for v in (_footer_val(x) for x in raw.to_pylist()) if v is not None}
            tset = {_transform_value(kind, param, v) for v in vals}
            if None in tset and vals:
                return None  # transform twin can't reproduce — fall back
            if len(tset) > _MAX_PART_VALUES:
                continue  # truncated set is not evidence — min/max only
            ser = [_ser_stat(v, "min") for v in tset]
            if any(s is None for s in ser):
                continue  # unserializable value in the set
            parts[key] = sorted(ser, key=lambda x: (str(type(x)), str(x)))
        if parts:
            per_col["__parts"] = parts
        stats[f.rsplit("/", 1)[-1]] = per_col
    return stats


def _collect_stats(
    spark: SparkSession,
    path: str,
    files: list[str],
    partition_cols: list[str] | None = None,
    bloom: dict | None = None,
    cmap: dict | None = None,
) -> dict:
    """Per-file min/max/null-count for every skippable column of the
    just-staged files. Primary path: harvested from the parquet
    FOOTERS driver-side (:func:`_footer_harvest`) — metadata-sized, no
    second read of the staged data (at 100 TB the old one-aggregate
    pass re-read every committed byte; footers are KBs). Falls back to
    the distributed aggregate (:func:`_collect_stats_spark`) for
    non-local schemes or undecodable files. Bloom bitmaps (when
    declared) still run their dedicated aggregates — they genuinely
    need every value.

    ``partition_cols`` additionally records each file's DISTINCT value
    set for those columns (under the reserved ``__parts`` key, capped
    at :data:`_MAX_PART_VALUES` per file) — exact membership evidence
    where hash-clustered values make min/max ranges useless."""
    if not files:
        return {}
    stats = _footer_harvest(path, files, partition_cols, cmap)
    if stats is None:
        stats = _collect_stats_spark(spark, path, files, partition_cols, cmap)
    if bloom and bloom.get("cols"):
        if cmap:
            bloom = {**bloom, "cols": [cmap.get(c, c) for c in bloom["cols"]]}
        for ref, cols in _collect_blooms(spark, path, files, bloom).items():
            stats.setdefault(ref.rsplit("/", 1)[-1], {})["__bloom"] = cols
    return stats


def _collect_stats_spark(
    spark: SparkSession,
    path: str,
    files: list[str],
    partition_cols: list[str] | None = None,
    cmap: dict | None = None,
) -> dict:
    """Distributed fallback for :func:`_collect_stats`: ONE grouped
    aggregate over just the staged files, collected as at most one row
    per file — the path for object-store roots where footers are not
    driver-reachable."""
    if not files:
        return {}
    scan = spark.read.parquet(*[f"{path}/data/{f}" for f in files])
    cols = [f.name for f in scan.schema if isinstance(f.dataType, _SKIPPABLE)]
    # staged files carry PHYSICAL names; specs are declared logical —
    # the stats stay keyed physical (stable across renames, matching
    # the files) and scans translate filters once
    # partition fields: bare columns (identity) or transforms; the
    # stats key is the canonical form over the PHYSICAL inner column
    # (stable across renames), the recorded values are TRANSFORMED
    pfields: list[tuple[str, object]] = []
    for spec in partition_cols or []:
        _, col, kind, param = _parse_partition_field(spec)
        pcol = (cmap or {}).get(col, col)
        if pcol not in scan.columns:
            continue
        pfields.append(
            (
                _canonical_field(kind, param, pcol),
                _transform_expr(kind, param, pcol, scan.schema[pcol].dataType),
            )
        )
    # per-file row count rides along under the reserved "__rows" key:
    # it lets COUNT(*) (table_row_count) answer from the log alone
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [
            F.min(c).alias(f"mn__{c}"),
            F.max(c).alias(f"mx__{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"nu__{c}"),
        ]
    for i, (_, expr) in enumerate(pfields):
        # one extra value past the cap disambiguates "exactly at cap"
        # from "truncated" (a truncated set is NOT pruning evidence)
        aggs.append(
            F.slice(F.collect_set(expr), 1, _MAX_PART_VALUES + 1).alias(
                f"pv__{i}"
            )
        )
    rows = (
        scan.withColumn("__f", F.input_file_name()).groupBy("__f").agg(*aggs).collect()
    )
    stats: dict = {}
    for r in rows:
        per_col = {"__rows": int(r["__rows"])}
        for c in cols:
            mn = _ser_stat(r[f"mn__{c}"], "min")
            mx = _ser_stat(r[f"mx__{c}"], "max")
            if mn is None or mx is None:
                continue  # all-null file or unserializable — no stat, no prune
            per_col[c] = [mn, mx, int(r[f"nu__{c}"] or 0)]
        parts = {}
        for i, (key, _) in enumerate(pfields):
            vals = r[f"pv__{i}"]
            if vals is None or len(vals) > _MAX_PART_VALUES:
                continue  # truncated set is not evidence — min/max only
            ser = [_ser_stat(v, "min") for v in vals]
            if any(s is None for s in ser):
                continue  # unserializable value in the set
            parts[key] = sorted(ser, key=lambda x: (str(type(x)), str(x)))
        if parts:
            per_col["__parts"] = parts
        stats[r["__f"].rsplit("/", 1)[-1]] = per_col
    return stats


def _stats_prune(
    stats: dict, files: list[str], filters: list[tuple]
) -> list[str]:
    """Drop files whose recorded min/max PROVE no row matches the
    conjunction of ``filters`` (pyarrow-style ``(col, op, value)``
    tuples, ops ``== != < <= > >= in``). Conservative: a file with no
    stat for a column always survives; NULL rows never satisfy these
    comparison ops, so min/max over non-null values is sufficient
    evidence. Pure function — unit-testable without a filesystem."""

    def norm(val, stat_bound):
        """Align a filter value with the stats' serialized form so
        comparisons stay order-preserving: temporals → isoformat, and
        SQL-style 'YYYY-MM-DD HH:MM:SS' strings → the ISO 'T'
        separator — but ONLY when the stored stat itself is ISO-shaped
        ('T' at position 10), which is how temporal stats serialize.
        A STRING column whose values merely look like timestamps keeps
        its raw form, and rewriting the filter would invert the
        comparison and prune matching files. NaN filter values prune
        nothing (NaN never satisfies a range predicate on the read
        side either)."""
        if isinstance(val, (datetime.datetime, datetime.date)):
            return val.isoformat()
        if (
            isinstance(val, str)
            and isinstance(stat_bound, str)
            and len(val) > 10
            and val[10] == " "
            and len(stat_bound) > 10
            and stat_bound[10] == "T"
            and val[:4].isdigit()
            and val[4] == "-"
        ):
            return val[:10] + "T" + val[11:]
        return val

    def part_maybe_matches(vals: list, op, val) -> bool:
        """EXACT membership evidence from a file's recorded distinct
        value set (partition columns): a file whose set contains no
        satisfying value provably misses. Filter values serialize
        through the same ``_ser_stat`` as the stored set, so equality
        is apples-to-apples; anything unserializable or cross-typed
        falls back to "can't prove a miss"."""
        cand = [val] if op != "in" else list(val)
        ser = [_ser_stat(v, "min") for v in cand]
        if any(s is None for s in ser):
            return True
        if vals and isinstance(vals[0], str):
            # same SQL-style → ISO timestamp alignment as min/max stats
            ser = [norm(s, vals[0]) if isinstance(s, str) else s for s in ser]

        def _cat(x):
            # type CATEGORY for apples-to-apples equality: Python's
            # `'2' in [2]` is False without raising, but the row-level
            # filter CASTS and matches — equality/IN may only prune on
            # same-category evidence (the guard _bloom_maybe already
            # has; < <= > >= get it free via TypeError below)
            if isinstance(x, bool):
                return "b"
            if isinstance(x, str):
                return "s"
            if isinstance(x, (int, float)):
                return "n"
            return "o"

        vcats = {_cat(v) for v in vals}
        try:
            if op in ("==", "=", "in"):
                if any(_cat(s) not in vcats for s in ser):
                    return True  # cross-typed candidate: can't prove a miss
                return any(s in vals for s in ser)
            if op == "!=":
                return any(v != ser[0] for v in vals)
            if op == "<":
                return any(v < ser[0] for v in vals)
            if op == "<=":
                return any(v <= ser[0] for v in vals)
            if op == ">":
                return any(v > ser[0] for v in vals)
            if op == ">=":
                return any(v >= ser[0] for v in vals)
        except TypeError:
            return True
        return True

    def maybe_matches(per_col: dict, col, op, val) -> bool:
        st = per_col.get(col)
        if op == "isnull":
            # null-count evidence: a file recording ZERO nulls provably
            # has no IS NULL row. All-null files record no min/max stat
            # at all (st is None) and survive conservatively.
            return not (st is not None and st[2] == 0)
        if op == "notnull":
            # a file WITH a min/max stat has ≥1 non-null row; a file
            # without one is all-null OR statless — only "__rows with
            # stats collected and no stat entry" would prove all-null,
            # which this pure function cannot distinguish: keep.
            return True
        pv = per_col.get("__parts", {}).get(col)
        if pv is not None:
            return part_maybe_matches(pv, op, val)
        if st is None:
            return True
        mn, mx = st[0], st[1]
        val = [norm(v, mn) for v in val] if op == "in" else norm(val, mn)
        if isinstance(val, float) and val != val:
            return True  # NaN filter: no pruning evidence either way
        try:
            if op in ("==", "="):
                return mn <= val <= mx
            if op == "!=":
                return not (mn == mx == val)
            if op == "<":
                return mn < val
            if op == "<=":
                return mn <= val
            if op == ">":
                return mx > val
            if op == ">=":
                return mx >= val
            if op == "in":
                return any(mn <= v <= mx for v in val)
        except TypeError:  # cross-type comparison — never prune on doubt
            return True
        return True  # unknown op: no pruning
    return [
        f
        for f in files
        if all(maybe_matches(stats.get(f, {}), c, o, v) for c, o, v in filters)
    ]


# ------------------------------------------------------------------- reads


def _data_path(path: str, f: str) -> str:
    """Resolve a logged file reference to a readable location: bare
    uuid names live under this table's ``data/``; references carrying
    a ``/`` (shallow-clone entries pointing into ANOTHER table's data
    dir) pass through verbatim. Data files are immutable in every
    table, which is what makes cross-table references sound."""
    return f if "/" in f else f"{path}/data/{f}"


def _dv_frame(spark: SparkSession, path: str, dvs: list[str]) -> DataFrame:
    """The union of deletion-vector sidecars as ``(__sdw_dv_name,
    __sdw_dv_pos)`` — target files identified by uuid BASENAME so the
    vectors stay valid across shallow clones (whose snapshot lists the
    same immutable file under an absolute ref)."""
    return (
        spark.read.schema("file string, pos bigint")
        .parquet(*[_data_path(path, d) for d in dvs])
        .select(
            F.element_at(F.split("file", "/"), -1).alias("__sdw_dv_name"),
            F.col("pos").alias("__sdw_dv_pos"),
        )
    )


def _phys_struct(schema: str, cmap: dict | None):
    """The PHYSICAL read schema for a logged LOGICAL schema under a
    column map: field names substituted logical→physical, types and
    nullability unchanged. Identity when the map is empty."""
    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string(schema)
    if not cmap:
        return st
    return T.StructType(
        [
            T.StructField(cmap.get(f.name, f.name), f.dataType, f.nullable)
            for f in st
        ]
    )


def _to_logical(df: DataFrame, schema: str, cmap: dict | None) -> DataFrame:
    """Rename a physical scan back to logical column names (column
    mapping's read half). Extra non-schema columns (dv helpers) pass
    through untouched."""
    if not cmap:
        return df
    from pyspark.sql.types import _parse_datatype_string

    logical = {cmap.get(f.name, f.name): f.name for f in _parse_datatype_string(schema)}
    return df.select(
        *[F.col(c).alias(logical.get(c, c)) for c in df.columns]
    )


def _to_physical(df: DataFrame, cmap: dict | None) -> DataFrame:
    """Rename a logical batch to physical column names before staging
    (column mapping's write half)."""
    if not cmap:
        return df
    return df.select(*[F.col(c).alias(cmap.get(c, c)) for c in df.columns])


def _scan_with_pos(
    spark: SparkSession,
    path: str,
    files: list[str],
    schema: str | None,
    cmap: dict | None = None,
) -> DataFrame:
    """File-list scan carrying ``__sdw_dv_name`` (file basename) and
    ``__sdw_dv_pos`` (``_metadata.row_index``) helper columns — the
    join key space deletion vectors address rows by. ``cmap`` (column
    mapping) reads files under their PHYSICAL names and presents
    logical ones."""
    reader = spark.read
    if schema:
        reader = reader.schema(_phys_struct(schema, cmap))
    df = reader.parquet(*[_data_path(path, f) for f in files])
    df = df.select(
        "*",
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
            "__sdw_dv_name"
        ),
        F.col("_metadata.row_index").alias("__sdw_dv_pos"),
    )
    return _to_logical(df, schema, cmap) if schema else df


def _read_files(
    spark: SparkSession,
    path: str,
    files: list[str],
    schema: str | None,
    dvs: list[str] | None = None,
    cmap: dict | None = None,
) -> DataFrame:
    """Scan an explicit file list UNDER THE LOGGED SCHEMA: parquet
    columns match by name, files predating a schema evolution surface
    the added columns as NULL, and the reader never does schema
    inference (which would list/sample footers — real cost at 100 TB
    file counts). ``dvs`` (deletion-vector sidecar files) subtract
    MoR-deleted row positions with one anti-join on (file basename,
    ``_metadata.row_index``) — vector rows for files not in ``files``
    simply never match. ``cmap`` (column mapping, logical→physical)
    makes metadata-only RENAME/DROP COLUMN work: files are read under
    their stable PHYSICAL names and presented under the logged
    LOGICAL schema."""
    if dvs:
        return (
            _scan_with_pos(spark, path, files, schema, cmap=cmap)
            .join(
                _dv_frame(spark, path, dvs),
                ["__sdw_dv_name", "__sdw_dv_pos"],
                "left_anti",
            )
            .drop("__sdw_dv_name", "__sdw_dv_pos")
        )
    reader = spark.read
    if schema:
        reader = reader.schema(_phys_struct(schema, cmap))
    df = reader.parquet(*[_data_path(path, f) for f in files])
    return _to_logical(df, schema, cmap) if schema else df


def table_version_at_timestamp(
    spark: SparkSession, path: str, timestamp
) -> int:
    """The newest retained version committed at or before
    ``timestamp`` (a ``datetime``, ISO-8601 string, or epoch
    milliseconds) — the resolution step behind ``AS OF TIMESTAMP``
    time travel. Commit times come from the ``ts`` field each entry
    records at publish (mtime fallback for legacy entries), read from
    the log alone — no data files are opened. Raises when the
    timestamp predates all retained history (the pre-truncation
    contract: truncated versions are not addressable by time either).
    """
    if isinstance(timestamp, str):
        timestamp = datetime.datetime.fromisoformat(timestamp)
    if isinstance(timestamp, datetime.datetime):
        if timestamp.tzinfo is None:
            timestamp = timestamp.replace(tzinfo=datetime.timezone.utc)
        ts_ms = int(timestamp.timestamp() * 1000)
    else:
        ts_ms = int(timestamp)
    entries, _ = _list_log(spark, path)
    if not entries:
        raise FileNotFoundError(f"no table log under {path}")
    best: int | None = None
    for v in entries:
        e = _read_json(spark, path, f"{v:08d}.json")
        e_ts = e.get("ts")
        if e_ts is None:
            e_ts = tablefs.stat(spark, f"{path}/_log/{v:08d}.json")[1]
        if int(e_ts) <= ts_ms:
            best = v  # entries are sorted: last match wins
    if best is None:
        raise ValueError(
            f"timestamp {ts_ms} predates all retained history at {path} "
            f"(oldest retained version {entries[0]})"
        )
    return best


def table_read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp=None,
    tag: str | None = None,
) -> DataFrame:
    """Snapshot read (latest, or time travel to ``version`` /
    ``AS OF timestamp`` / a named ``tag``): resolves the log once and
    scans the resolved file list explicitly — a concurrent commit
    cannot tear the read. The scan carries the logged schema, so
    snapshots after a metadata-only schema evolution read
    pre-evolution files with the new columns as NULL."""
    if sum(x is not None for x in (version, timestamp, tag)) > 1:
        raise ValueError("pass at most one of version, timestamp, tag")
    if tag is not None:
        tags = _resolve_state(spark, path, None)["tags"]
        if tag not in tags:
            raise ValueError(
                f"no tag {tag!r} at {path} (tags: {sorted(tags)})"
            )
        version = tags[tag]
    if timestamp is not None:
        version = table_version_at_timestamp(spark, path, timestamp)
    state = _resolve_state(spark, path, version)
    if not state["files"]:
        # an empty snapshot (e.g. DELETE matched everything): surface
        # an empty frame with the logged schema, not a read error
        return spark.createDataFrame([], state["schema"])
    return _read_files(
        spark, path, state["files"], state["schema"], dvs=state["dvs"],
        cmap=state.get("column_map"),
    )


def table_history(spark: SparkSession, path: str) -> list[dict]:
    """The commit log, oldest first: version, action, op (for DML),
    files added/removed, rows added (from the commit's recorded
    per-file stats — None when stats were disabled), and the commit's
    wall-clock timestamp (log-entry mtime, ISO) — the DESCRIBE HISTORY
    operability surface, answered from metadata alone."""
    out = []
    entries, _ = _list_log(spark, path)
    for v in entries:
        e = _read_json(spark, path, f"{v:08d}.json")
        stats = e.get("stats")
        rows_added: int | None = None
        if stats is not None:
            counted = [stats.get(f, {}).get("__rows") for f in _entry_adds(e)]
            if all(c is not None for c in counted):
                rows_added = int(sum(counted))
        # commit time recorded IN the entry at publish (durable across
        # file copies); legacy entries fall back to log-file mtime
        ts_ms = e.get("ts")
        if ts_ms is None:
            ts_ms = tablefs.stat(spark, f"{path}/_log/{v:08d}.json")[1]
        out.append(
            {
                "version": v,
                "action": e["action"],
                "op": e.get("op", e["action"]),
                "n_files": len(_entry_adds(e)),
                "n_removed": len(e.get("remove", [])),
                "rows_added": rows_added,
                "timestamp": datetime.datetime.fromtimestamp(
                    ts_ms / 1000.0, tz=datetime.timezone.utc
                ).isoformat(),
            }
        )
    return out


# ------------------------------------------------------------------ vacuum


def _abs_root(path: str) -> str:
    """The canonical absolute form clone refs use for this table."""
    return path if "://" in path else os.path.abspath(path)


def _register_clone_backref(
    spark: SparkSession, src_root: str, dst: str
) -> None:
    """Record at ``src_root`` that ``dst`` shallow-references its data
    files: one marker under ``{src}/_clones/``, written BEFORE the
    clone's commit publishes (a failed clone leaves a stale marker,
    which vacuum garbage-collects when it finds no log at ``dst`` —
    the safe order; the reverse would let a racing vacuum reap files
    the just-committed clone references)."""
    tablefs.write_file(
        spark,
        f"{src_root}/_clones/{uuid.uuid4().hex}.json",
        json.dumps({"dst": _abs_root(dst), "ts": int(time.time() * 1000)})
        .encode("utf-8"),
    )


def _clone_referenced_names(
    spark: SparkSession, path: str, gc: bool = True,
    gc_before_ms: float | None = None,
) -> set[str]:
    """Basenames of THIS table's data files that live shallow clones
    still reference — collected from each registered clone's ENTIRE
    retained log (not just its current snapshot, so the clone's own
    time travel survives a source vacuum). Markers whose destination
    has no log (clone deleted / never committed) or references none of
    our files anymore (materialized, then history-truncated) are
    garbage-collected here — but ONLY markers older than
    ``gc_before_ms`` (the vacuum retention horizon): an IN-FLIGHT
    ``table_clone`` registers its marker BEFORE its commit publishes,
    so a fresh no-log marker is indistinguishable from a failed clone
    and reaping it would let a later vacuum corrupt the live clone
    (the r9 TOCTOU). ``gc_before_ms=None`` disables GC outright.
    Cost ∝ clone count × clone log size — metadata, never data."""
    cdir = f"{path}/_clones"
    names = tablefs.list_dir(spark, cdir)
    if names is None:
        return set()
    data_prefix = f"{_abs_root(path)}/data"
    out: set[str] = set()
    for name in names:
        if not name.endswith(".json"):
            continue
        marker_path = f"{cdir}/{name}"
        marker = json.loads(
            tablefs.read_file(spark, marker_path).decode("utf-8")
        )
        dst = marker.get("dst")
        # age gate: a marker younger than the retention horizon may
        # belong to a clone whose commit is still in flight — keep it
        old_enough = (
            gc_before_ms is not None
            and float(marker.get("ts", float("inf"))) < gc_before_ms
        )
        try:
            entries, cps = _list_log(spark, dst)
        except Exception:
            entries, cps = [], []
        if not entries and not cps:
            if gc and old_enough:
                tablefs.remove(spark, marker_path)  # clone gone/never landed
            continue
        refs: set[str] = set()
        for v in entries:
            refs.update(_entry_adds(_read_json(spark, dst, f"{v:08d}.json")))
        for c in cps:
            cp = _read_json(spark, dst, f"{c:08d}.checkpoint.json")
            refs.update(cp["files"])
            refs.update(cp.get("dvs", []))
        ours = {
            r.rsplit("/", 1)[-1]
            for r in refs
            if "/" in r and r.rsplit("/", 1)[0] == data_prefix
        }
        if not ours:
            if gc and old_enough:
                tablefs.remove(spark, marker_path)  # materialized: release
            continue
        out.update(ours)
    return out


def table_vacuum(
    spark: SparkSession,
    path: str,
    retention_hours: float = 168.0,
    dry_run: bool = False,
) -> int:
    """Delete data files referenced by NO retained version (failed
    stagings, files dropped by overwrites/deltas whose history was
    truncated). Returns the number of files/dirs removed.

    Only files OLDER than ``retention_hours`` are touched: a racing
    in-flight commit renames its data files into ``data/`` BEFORE its
    log entry exists, so without the age gate a vacuum could reap
    files the racing commit is about to reference — the same reason
    Delta refuses sub-retention vacuums by default. ``0`` is allowed
    for single-writer maintenance windows; with concurrent writers
    keep it above any writer's stage-to-commit latency.

    CLONE-AWARE (round 9): shallow clones reference this table's
    immutable files by absolute path; each clone registers a back-ref
    marker under ``{path}/_clones/`` at creation, and vacuum keeps
    every file any live clone's retained log still references — so
    vacuuming a source after history truncation can no longer
    silently corrupt its clones (previously a documented caveat).
    Markers for deleted or fully-materialized clones are
    garbage-collected in the same pass (kept under ``dry_run``).

    ``dry_run=True`` counts the files a real vacuum would delete and
    touches NOTHING — the pre-flight check before reclaiming space on
    a table other pipelines may clone from."""
    entries, cps = _list_log(spark, path)
    referenced: set[str] = set()
    for v in entries:
        referenced.update(_entry_adds(_read_json(spark, path, f"{v:08d}.json")))
    for c in cps:
        cp = _read_json(spark, path, f"{c:08d}.checkpoint.json")
        referenced.update(cp["files"])
        referenced.update(cp.get("dvs", []))
    horizon_ms = (time.time() - retention_hours * 3600.0) * 1000.0
    if dry_run:
        # read-only marker scan: stale markers stay for the real run
        referenced.update(_clone_referenced_names(spark, path, gc=False))
    else:
        # marker GC shares the vacuum's retention horizon: a no-log
        # marker younger than it may be an in-flight clone (registered
        # before its commit publishes) and must survive this pass
        referenced.update(
            _clone_referenced_names(spark, path, gc_before_ms=horizon_ms)
        )
    entries = tablefs.list_dir(spark, f"{path}/data") or {}
    removed = 0
    for name, mtime_ms in entries.items():
        if mtime_ms > horizon_ms:
            continue  # young: may belong to an in-flight commit
        # referenced names are data files, so a directory never matches
        if name not in referenced:
            if not dry_run:
                tablefs.remove(spark, f"{path}/data/{name}", recursive=True)
            removed += 1
    return removed


# ------------------------------------------------------ CHECK constraints


def _enforce_constraints(
    df: DataFrame, constraints: dict, path: str, what: str
) -> None:
    """Raise if any row of ``df`` VIOLATES a CHECK constraint (its
    expression evaluates to FALSE; NULL passes — SQL CHECK semantics).
    ONE scan of the batch regardless of constraint count (all counted
    in a single aggregate), which is the write-time cost Delta pays
    for the same feature — and the entire point: enforcing quality at
    ingest beats discovering a poisoned 100 TB table at read time."""
    if not constraints:
        return
    aggs = [
        F.sum((F.expr(sql) == F.lit(False)).cast("long")).alias(name)
        for name, sql in constraints.items()
    ]
    row = df.agg(*aggs).collect()[0]
    bad = {name: int(row[name] or 0) for name in constraints if row[name]}
    if bad:
        detail = "; ".join(
            f"{name} CHECK ({constraints[name]}): {n} violating rows"
            for name, n in bad.items()
        )
        raise ValueError(
            f"CHECK constraint violation on {what} at {path}: {detail}"
        )


def table_set_check_constraint(
    spark: SparkSession, path: str, name: str, sql: str
) -> int:
    """ADD CONSTRAINT name CHECK (sql): validates the CURRENT snapshot
    satisfies it (one scan — same as Delta's ADD CONSTRAINT), then
    commits the constraint as a metadata-only log entry. From that
    version on, every append/overwrite/UPDATE/MERGE batch is checked
    before it can commit (NULL predicate passes, per SQL CHECK). The
    commit carries ``base=`` the validated version, so an append
    racing the ADD either lands first (and was part of the validated
    snapshot's successor chain — re-checked by its own CAS loop) or
    conflicts here; unvalidated rows can never slip under a new
    constraint. Returns the new version."""
    state = _resolve_state(spark, path, None)
    if state["files"]:
        _enforce_constraints(
            _read_files(
                spark, path, state["files"], state["schema"],
                dvs=state.get("dvs"), cmap=state.get("column_map"),
            ),
            {name: sql},
            path,
            "existing snapshot (ADD CONSTRAINT)",
        )
    entry = {
        "action": "append",
        "files": [],
        "schema": state["schema"],
        "constraints": {name: sql},
        "base": state["version"],
        "op": "set_constraint",
    }
    return _commit_entry(spark, path, entry, base=state["version"])


def table_drop_check_constraint(
    spark: SparkSession, path: str, name: str
) -> int:
    """DROP CONSTRAINT: metadata-only entry mapping the name to null
    (replay removes it). Returns the new version."""
    state = _resolve_state(spark, path, None)
    if name not in (state.get("constraints") or {}):
        raise ValueError(f"no CHECK constraint {name!r} on {path}")
    entry = {
        "action": "append",
        "files": [],
        "schema": state["schema"],
        "constraints": {name: None},
        "op": "drop_constraint",
    }
    return _commit_entry(spark, path, entry)


# ----------------------------------------- column mapping (RENAME/DROP)


def _constraint_refs(state: dict, col: str) -> list[str]:
    import re

    return [
        name
        for name, sql in (state.get("constraints") or {}).items()
        if re.search(rf"\b{re.escape(col)}\b", sql)
    ]


def table_rename_column(
    spark: SparkSession, path: str, old: str, new: str
) -> int:
    """ALTER TABLE RENAME COLUMN, METADATA-ONLY (Delta column mapping):
    one log entry updates the logical schema and the column map — the
    files keep the column under its stable PHYSICAL name (the name it
    was first written with), so zero bytes move at any table size.
    Every read path translates physical→logical; writes translate the
    other way; per-file stats stay keyed physical and remain valid. A
    declared ``partition_by`` / bloom spec naming the column is
    renamed in the same atomic entry; a CHECK constraint referencing
    it must be dropped first (its SQL text cannot be rewritten
    safely). Interleaved commits conflict (CAS on the base version).
    Returns the new version."""
    from pyspark.sql.types import _parse_datatype_string

    state = _resolve_state(spark, path, None)
    fields = list(_parse_datatype_string(state["schema"]))
    names = [f.name for f in fields]
    if old not in names:
        raise ValueError(f"no column {old!r} in {path} (has {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists in {path}")
    refs = _constraint_refs(state, old)
    if refs:
        raise ValueError(
            f"CHECK constraints {refs} reference column {old!r}; drop "
            "them before renaming (their SQL cannot be rewritten safely)"
        )
    cmap = dict(state.get("column_map") or {})
    phys = cmap.pop(old, old)
    cmap[new] = phys
    used = sorted(
        set(state.get("used_physicals") or [])
        | {cmap.get(n, n) for n in names if n != old}
        | {phys}
    )
    new_schema = T.StructType(
        [
            T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
            for f in fields
        ]
    ).simpleString()
    entry = {
        "action": "meta",
        "op": "rename_column",
        "schema": new_schema,
        "column_map": cmap,
        "used_physicals": used,
        "base": state["version"],
    }
    pb = state.get("partition_by") or []
    if any(_parse_partition_field(sp)[1] == old for sp in pb):
        # rename the INNER column of bare and transform fields alike
        renamed = []
        for sp in pb:
            _, col, kind, param = _parse_partition_field(sp)
            renamed.append(
                _canonical_field(kind, param, new if col == old else col)
            )
        entry["partition_by"] = renamed
    bl = state.get("bloom")
    if bl and old in bl.get("cols", []):
        entry["bloom"] = {
            **bl, "cols": [new if c == old else c for c in bl["cols"]]
        }
    return _commit_entry(spark, path, entry, base=state["version"])


def table_drop_column(spark: SparkSession, path: str, col: str) -> int:
    """ALTER TABLE DROP COLUMN, METADATA-ONLY: the logical schema and
    map forget the column; the data stays in the files (time travel to
    pre-drop versions still reads it) but no current-snapshot read
    selects it. The retired PHYSICAL name is recorded in
    ``used_physicals`` — a later column RE-ADDED under the same
    logical name gets a fresh physical, so old files can never
    resurrect the dropped column's data under it. Columns named by the
    partition/bloom spec or a CHECK constraint must leave those first.
    Returns the new version."""
    from pyspark.sql.types import _parse_datatype_string

    state = _resolve_state(spark, path, None)
    fields = list(_parse_datatype_string(state["schema"]))
    names = [f.name for f in fields]
    if col not in names:
        raise ValueError(f"no column {col!r} in {path} (has {names})")
    if len(fields) == 1:
        raise ValueError(f"cannot drop the only column of {path}")
    if any(
        _parse_partition_field(sp)[1] == col
        for sp in (state.get("partition_by") or [])
    ):
        raise ValueError(
            f"{col!r} is a partition column; redeclare partition_by first"
        )
    if col in (state.get("bloom") or {}).get("cols", []):
        raise ValueError(
            f"{col!r} is bloom-indexed; redeclare bloom_cols first"
        )
    refs = _constraint_refs(state, col)
    if refs:
        raise ValueError(
            f"CHECK constraints {refs} reference column {col!r}; drop them first"
        )
    cmap = dict(state.get("column_map") or {})
    phys = cmap.pop(col, col)
    used = sorted(
        set(state.get("used_physicals") or [])
        | {cmap.get(n, n) for n in names if n != col}
        | {phys}
    )
    new_schema = T.StructType(
        [
            T.StructField(f.name, f.dataType, f.nullable)
            for f in fields
            if f.name != col
        ]
    ).simpleString()
    entry = {
        "action": "meta",
        "op": "drop_column",
        "schema": new_schema,
        "column_map": cmap,
        "used_physicals": used,
        "base": state["version"],
    }
    return _commit_entry(spark, path, entry, base=state["version"])


def table_add_column(
    spark: SparkSession, path: str, col: str, dtype: str
) -> int:
    """ALTER TABLE ADD COLUMN (nullable), METADATA-ONLY: one log entry
    widens the logical schema; every existing file surfaces the new
    column as NULL because snapshot reads pass the logged schema
    explicitly — zero bytes move at any table size (the pure-DDL twin
    of ``table_commit(evolve_schema=True)``, which requires a data
    batch). If the default physical name was ever used by a
    since-dropped/renamed column, the new column gets a FRESH
    uuid-suffixed physical — old files can never resurrect the retired
    column's data under the new name. Interleaved commits conflict
    (CAS on the base version). Returns the new version."""
    from pyspark.sql.types import _parse_datatype_string

    state = _resolve_state(spark, path, None)
    fields = list(_parse_datatype_string(state["schema"]))
    names = [f.name for f in fields]
    if col in names:
        raise ValueError(f"column {col!r} already exists in {path}")
    new_type = _parse_datatype_string(dtype)
    cmap = dict(state.get("column_map") or {})
    used = set(state.get("used_physicals") or [])
    live_phys = {cmap.get(n, n) for n in names}
    retired = used - live_phys
    entry: dict = {
        "action": "meta",
        "op": "add_column",
        "schema": T.StructType(
            fields + [T.StructField(col, new_type, True)]
        ).simpleString(),
        "base": state["version"],
    }
    if col in retired or col in live_phys:
        cmap[col] = f"{col}__{uuid.uuid4().hex[:8]}"
        entry["column_map"] = cmap
        entry["used_physicals"] = sorted(used | live_phys | {cmap[col]})
    elif cmap or used:
        entry["column_map"] = cmap
        entry["used_physicals"] = sorted(used | live_phys | {col})
    return _commit_entry(spark, path, entry, base=state["version"])


#: sound read-time widenings: every stored value is exactly
#: representable in the wider type, and Spark's parquet reader (4.x)
#: and the session-free Arrow reader both up-cast at scan time.
#: (decimal/date widenings are NOT here: parquet logical-type rules
#: differ and silent precision changes are the thing this gate exists
#: to prevent)
_WIDEN_LADDER = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "float": {"double"},
}


def table_widen_column(
    spark: SparkSession, path: str, col: str, dtype: str
) -> int:
    """ALTER TABLE ALTER COLUMN TYPE — widen only, METADATA-ONLY
    (round 10, VERDICT r9 #10): one log entry changes the column's
    logical type; ZERO data files move. Existing files keep their
    narrow physical encoding and every reader up-casts at scan time
    (Spark's parquet reader reads int32 under a bigint schema
    natively; the session-free Arrow reader casts per the logged
    schema — both pinned in tests), while later appends write the
    wide type. Only the int ladder (tinyint→smallint→int→bigint) and
    float→double are accepted — exactly the value-preserving set;
    anything else (narrowing, cross-family, decimal) raises instead
    of silently rereading data under a lossy type. Stats and Bloom
    bitmaps stay valid: both key on canonical values that don't change
    with integer width. Interleaved commits conflict (CAS on the base
    version). Returns the new version."""
    from pyspark.sql.types import _parse_datatype_string

    state = _resolve_state(spark, path, None)
    fields = list(_parse_datatype_string(state["schema"]))
    by_name = {f.name: f for f in fields}
    if col not in by_name:
        raise ValueError(f"column {col!r} not in {path} ({list(by_name)})")
    old_s = by_name[col].dataType.simpleString()
    new_type = _parse_datatype_string(dtype)
    new_s = new_type.simpleString()
    if new_s == old_s:
        return state["version"]  # no-op widen: nothing to commit
    if new_s not in _WIDEN_LADDER.get(old_s, set()):
        raise TypeError(
            f"cannot widen {col!r} from {old_s} to {new_s}; supported "
            f"widenings: {sorted((a, sorted(b)) for a, b in _WIDEN_LADDER.items())}"
        )
    widened = T.StructType(
        [
            T.StructField(f.name, new_type if f.name == col else f.dataType, f.nullable)
            for f in fields
        ]
    )
    entry = {
        "action": "meta",
        "op": "widen_column",
        "schema": widened.simpleString(),
        "base": state["version"],
    }
    return _commit_entry(spark, path, entry, base=state["version"])


# ------------------------------------------------- file-granular DML triad


def _touched_files(
    spark: SparkSession,
    path: str,
    files: list[str],
    condition,
    schema=None,
    dvs: list[str] | None = None,
    cmap: dict | None = None,
) -> list[str]:
    """Names of the snapshot files that contain ≥1 row matching
    ``condition`` — the copy-on-write candidate set.

    One predicate-pushed scan: parquet row-group min/max stats let the
    reader skip whole files whose ranges exclude the predicate at
    footer cost (this IS the min/max prune — done by the scan, not by
    re-implementing expression evaluation over footer stats driver
    side), and the map-side-combined ``distinct`` over
    ``input_file_name`` shuffles at most one row per touched file.
    The collect is bounded by the snapshot's file count."""
    # _metadata.file_path, not input_file_name(): the latter refuses
    # plans with two file sources, which the deletion-vector anti-join
    # introduces; the metadata column binds to its own relation
    scan = _scan_with_pos(spark, path, files, schema, cmap=cmap)
    if dvs:
        scan = scan.join(
            _dv_frame(spark, path, dvs),
            ["__sdw_dv_name", "__sdw_dv_pos"],
            "left_anti",
        )
    rows = (
        scan.where(condition).select("__sdw_dv_name").distinct().collect()
    )
    # map basenames back to the LOGGED reference strings: a shallow
    # clone logs absolute refs, and the remove-list must name exactly
    # what the snapshot's file list names (uuid basenames are unique)
    by_name = {f.rsplit("/", 1)[-1]: f for f in files}
    return sorted(by_name[r["__sdw_dv_name"]] for r in rows)


def _interleaved_plain_appends(
    spark: SparkSession, path: str, from_v: int, to_v: int, schema: str
) -> list[str] | None:
    """Files added by versions ``(from_v, to_v]`` IF every one of them
    is a plain data append under the unchanged ``schema`` — the only
    interleaving a DML delta can be rebased across. ``None`` means a
    real conflict interleaved: an overwrite/delta/compact touches the
    files the delta was computed from; a schema evolution would be
    silently reverted by the delta's last-writer-wins schema; a
    constraint or partition-spec change invalidates what the DML's
    rewrite was checked against."""
    added: list[str] = []
    for v in range(from_v + 1, to_v + 1):
        try:
            e = _read_json(spark, path, f"{v:08d}.json")
        except Exception:
            return None  # entry unreadable/truncated away — punt
        if (
            e["action"] != "append"
            or e.get("schema") != schema
            or e.get("constraints")
            or "partition_by" in e
        ):
            return None
        added.extend(e["files"])
    return added


def _fold_delta(rewrite):
    """Standard copy-on-write rebase fold: rewrite the overlapping
    appended files and extend the delta's add/remove/stats."""

    def fold(entry: dict, matching: list[str]) -> None:
        extra_added, extra_stats = rewrite(matching)
        entry["add"] = list(entry["add"]) + list(extra_added)
        entry["remove"] = list(entry["remove"]) + list(matching)
        entry["stats"] = {**entry.get("stats", {}), **extra_stats}

    return fold


def _commit_dml_rebasing(
    spark: SparkSession,
    path: str,
    entry: dict,
    state: dict,
    probe,
    fold,
    max_rebases: int = 5,
) -> int:
    """Publish a DML delta, REBASING it over concurrent plain appends
    instead of aborting (the Delta concurrency model, with an exact
    probe where Delta's ``ConcurrentAppendException`` is stats-maybe):

    on conflict, if everything that interleaved since the delta's base
    is a plain data append, the delta's add/remove files are untouched
    — the only serializability question is whether the APPENDED rows
    are hit by the DML's predicate/keys. ``probe(new_files)`` answers
    it exactly (one pushed-down scan of just the interleaved files);
    disjoint appends re-target the same delta at the new head, and
    overlapping ones are folded in by ``fold(entry, matching_files)``
    (copy-on-write: rewrite + extend add/remove; merge-on-read: mark
    extra deletion-vector rows). Cost ∝ interleaved data. Anything other
    than a plain append still raises — those genuinely invalidate the
    delta. At 1000-executor scale this is what keeps maintenance DML
    from being starved by a steady append/streaming-ingest load."""
    base = int(state["version"])
    for _ in range(max_rebases):
        try:
            return _commit_entry(spark, path, entry, base=base)
        except ConcurrentWriteConflict:
            cur = _resolve_state(spark, path, None)
            new_files = _interleaved_plain_appends(
                spark, path, base, int(cur["version"]), state["schema"]
            )
            if new_files is None:
                raise
            matching = probe(new_files) if new_files else []
            if matching:
                fold(entry, matching)
            base = int(cur["version"])
            entry["base"] = base
    raise ConcurrentWriteConflict(
        f"{entry.get('op')} at {path} rebased {max_rebases} times without "
        "winning a commit; retry under lower append pressure"
    )


def table_delete_where(
    spark: SparkSession, path: str, condition: str, mode: str = "cow"
) -> int:
    """DELETE FROM table WHERE condition. Rows where the condition is
    NULL survive (SQL DELETE semantics); the pre-delete snapshot stays
    time-travelable (physically reclaimable via log truncation +
    vacuum); concurrent plain appends are REBASED over (appended rows
    matching the predicate are deleted too — exact serializability,
    cost ∝ the interleaved data); any other interleaved commit raises
    :class:`ConcurrentWriteConflict`. Returns the new version, or the
    current one if nothing matched.

    ``mode="cow"`` (copy-on-write, default): only data files
    containing matching rows are rewritten (survivors restaged),
    everything else survives BYTE-IDENTICAL under its old name, one
    atomic add/remove delta.

    ``mode="mor"`` (merge-on-read, Delta/Iceberg deletion vectors):
    NO data file is rewritten at all — matching row POSITIONS are
    written to small parquet sidecars (``(file, pos)``) and the commit
    records them; every snapshot read subtracts them with one
    anti-join on (file basename, ``_metadata.row_index``). Write cost
    ∝ the DELETED rows, not the touched files — at 100 TB this is the
    difference between rewriting a terabyte of touched files to drop
    a few thousand rows and writing kilobytes of positions.
    ``table_compact`` (or any overwrite) purges the vectors by
    materializing the subtraction. Metadata-only COUNT(*) stays exact
    (per-file deleted counts ride the log)."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    state = _resolve_state(spark, path, None)
    if not state["files"]:  # empty snapshot: DELETE is a no-op
        return state["version"]
    cond = F.expr(condition)

    if mode == "mor":

        def _mark(files: list[str]) -> tuple[list[str], dict]:
            """Stage deletion-vector rows for predicate hits in
            ``files``; returns (dv sidecar names, per-file counts)."""
            scan = _scan_with_pos(
                spark, path, files, state["schema"],
                cmap=state.get("column_map"),
            )
            if state["dvs"]:
                # rows already MoR-deleted must not be marked twice
                # (COUNT(*) subtracts dv_counts — a double mark would
                # undercount)
                scan = scan.join(
                    _dv_frame(spark, path, state["dvs"]),
                    ["__sdw_dv_name", "__sdw_dv_pos"],
                    "left_anti",
                )
            name_to_ref = small_df(
                spark,
                [(f.rsplit("/", 1)[-1], f) for f in files],
                "__sdw_dv_name string, file string",
            )
            # hit positions feed the staged write AND the per-file
            # counts — materialize the edit-sized set once (guide §5),
            # which also makes this one scan BOTH the touched-file
            # probe and the position harvest (guide §1.2)
            dv_rows = (
                scan.where(F.coalesce(cond, F.lit(False)))
                .select("__sdw_dv_name", F.col("__sdw_dv_pos").alias("pos"))
                .join(F.broadcast(name_to_ref), "__sdw_dv_name")
                .select("file", "pos")
                .localCheckpoint(eager=True)
            )
            counts = {
                r["file"]: int(r["n"])
                for r in dv_rows.groupBy("file")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            if not counts:
                return [], {}
            dv_files = _stage_data_files(dv_rows, path)
            return dv_files, counts

        dv_files, counts = _mark(state["files"])
        if not counts:  # nothing matched anywhere: DELETE is a no-op
            return state["version"]
        entry = {
            "action": "dv",
            "dv_add": dv_files,
            "dv_counts": counts,
            "schema": state["schema"],
            "base": state["version"],
            "op": "delete",
        }

        def _fold_dv(e: dict, matching: list[str]) -> None:
            extra, extra_counts = _mark(matching)
            e["dv_add"] = list(e["dv_add"]) + extra
            for f, n in extra_counts.items():
                e["dv_counts"][f] = e["dv_counts"].get(f, 0) + n

        return _commit_dml_rebasing(
            spark,
            path,
            entry,
            state,
            probe=lambda newf: _touched_files(
                spark, path, newf, cond, state["schema"],
                cmap=state.get("column_map"),
            ),
            fold=_fold_dv,
        )

    touched = _touched_files(
        spark, path, state["files"], cond, state["schema"], dvs=state["dvs"],
        cmap=state.get("column_map"),
    )
    if not touched:
        return state["version"]

    def _rewrite(files: list[str]) -> tuple[list[str], dict]:
        survivors = _read_files(
            spark, path, files, state["schema"], dvs=state["dvs"],
            cmap=state.get("column_map"),
        ).where(~F.coalesce(cond, F.lit(False)))
        added = _stage_data_files(
            _to_physical(survivors, state.get("column_map")), path
        )
        return added, _collect_stats(
            spark, path, added, partition_cols=state.get("partition_by"), bloom=state.get("bloom"), cmap=state.get("column_map")
        )

    added, stats = _rewrite(touched)
    entry = {
        "action": "delta",
        "add": added,
        "remove": touched,
        "stats": stats,
        "schema": state["schema"],
        "base": state["version"],
        "op": "delete",
    }
    return _commit_dml_rebasing(
        spark,
        path,
        entry,
        state,
        probe=lambda newf: _touched_files(
            spark, path, newf, cond, state["schema"],
            cmap=state.get("column_map"),
        ),
        fold=_fold_delta(_rewrite),
    )


def table_update_where(
    spark: SparkSession,
    path: str,
    set_exprs: dict,
    condition: str,
    mode: str = "cow",
) -> int:
    """UPDATE table SET col = expr, ... WHERE condition. Returns the
    new version, or the current one if nothing matched.

    ``mode="cow"`` (default): file-granular copy-on-write — only files
    containing matching rows are rewritten (matching rows get each
    ``set_exprs`` column replaced by its SQL expression, non-matching
    rows in those files pass through unchanged), the rest of the table
    is untouched, one atomic add/remove delta commit.

    ``mode="mor"`` (merge-on-read): the matching rows' POSITIONS go to
    deletion-vector sidecars and their POSTIMAGES are appended as new
    files — both in one atomic ``dv`` entry; no existing file is
    rewritten. Write cost ∝ the UPDATED rows, not the touched files —
    the right shape when a predicate hits a few rows in many huge
    files. Purge with ``table_compact`` as with MoR deletes."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    state = _resolve_state(spark, path, None)
    if not state["files"]:  # empty snapshot: UPDATE is a no-op
        return state["version"]
    cond = F.expr(condition)
    hit = F.coalesce(cond, F.lit(False))

    if mode == "mor":
        from pyspark.sql.types import _parse_datatype_string

        fields = list(_parse_datatype_string(state["schema"]))

        def _mor(files: list[str]) -> tuple[list[str], dict, list[str], dict]:
            """(dv sidecars, per-file counts, postimage files, their
            stats) for the matching rows in ``files``."""
            scan = _scan_with_pos(
                spark, path, files, state["schema"],
                cmap=state.get("column_map"),
            )
            if state["dvs"]:
                scan = scan.join(
                    _dv_frame(spark, path, state["dvs"]),
                    ["__sdw_dv_name", "__sdw_dv_pos"],
                    "left_anti",
                )
            # matched rows feed BOTH staged writes (postimages and DV
            # sidecar rows) and the per-file counts — materialize the
            # edit-sized set once instead of re-running the
            # scan + DV-anti-join + predicate per consumer (guide §5)
            matches = scan.where(hit).localCheckpoint(eager=True)
            if not matches.take(1):
                return [], {}, [], {}
            # postimages: every selected row matched, so SET applies
            # unconditionally; cast pins the declared column type
            post = matches.select(
                *[
                    (
                        F.expr(set_exprs[fld.name]).cast(fld.dataType)
                        if fld.name in set_exprs
                        else F.col(fld.name)
                    ).alias(fld.name)
                    for fld in fields
                ]
            )
            _enforce_constraints(
                post, state.get("constraints") or {}, path, "UPDATE postimage"
            )
            name_to_ref = small_df(
                spark,
                [(f.rsplit("/", 1)[-1], f) for f in files],
                "__sdw_dv_name string, file string",
            )
            dv_rows = (
                matches.select(
                    "__sdw_dv_name", F.col("__sdw_dv_pos").alias("pos")
                )
                .join(F.broadcast(name_to_ref), "__sdw_dv_name")
                .select("file", "pos")
            )
            # the two staged writes are independent jobs over the same
            # cached rows — overlap them (guide §2.6)
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                added_fut = pool.submit(
                    _stage_data_files,
                    _to_physical(post, state.get("column_map")),
                    path,
                )
                dv_fut = pool.submit(_stage_data_files, dv_rows, path)
                added = added_fut.result()
                dv_files = dv_fut.result()
            added_stats = _collect_stats(
                spark, path, added, partition_cols=state.get("partition_by"), bloom=state.get("bloom"), cmap=state.get("column_map")
            )
            # per-file DV counts from the cached rows — no read-back of
            # the just-written sidecar files
            counts = {
                r["file"]: int(r["n"])
                for r in dv_rows.groupBy("file")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            return dv_files, counts, added, added_stats

        # fused probe+mark (guide §1.2): the checkpointed matches over
        # the whole snapshot IS the probe — one predicate-pushed scan
        # instead of a name-only probe plus a re-scan of touched files
        dv_files, counts, added, added_stats = _mor(state["files"])
        if not counts:  # nothing matched anywhere: UPDATE is a no-op
            return state["version"]
        entry = {
            "action": "dv",
            "dv_add": dv_files,
            "dv_counts": counts,
            "add": added,
            "stats": added_stats,
            "schema": state["schema"],
            "base": state["version"],
            "op": "update",
        }

        def _fold_mor(e: dict, matching: list[str]) -> None:
            dvf, cnts, add2, st2 = _mor(matching)
            e["dv_add"] = list(e["dv_add"]) + dvf
            for f, n in cnts.items():
                e["dv_counts"][f] = e["dv_counts"].get(f, 0) + n
            e["add"] = list(e["add"]) + add2
            e["stats"] = {**e.get("stats", {}), **st2}

        return _commit_dml_rebasing(
            spark,
            path,
            entry,
            state,
            probe=lambda newf: _touched_files(
                spark, path, newf, cond, state["schema"],
                cmap=state.get("column_map"),
            ),
            fold=_fold_mor,
        )

    touched = _touched_files(
        spark, path, state["files"], cond, state["schema"], dvs=state["dvs"],
        cmap=state.get("column_map"),
    )
    if not touched:
        return state["version"]

    def _rewrite(files: list[str]) -> tuple[list[str], dict]:
        snap = _read_files(
            spark, path, files, state["schema"], dvs=state["dvs"],
            cmap=state.get("column_map"),
        )
        updated = snap.select(
            *[
                # cast SET back to the column's declared type: SQL
                # UPDATE never changes a column's type, and a silently-
                # widened rewrite (e.g. decimal precision growth) would
                # make the rewritten files unreadable in union with
                # untouched ones
                F.when(hit, F.expr(set_exprs[c]).cast(snap.schema[c].dataType))
                .otherwise(F.col(c))
                .alias(c)
                if c in set_exprs
                else F.col(c)
                for c in snap.columns
            ]
        )
        _enforce_constraints(
            updated, state.get("constraints") or {}, path, "UPDATE rewrite"
        )
        added = _stage_data_files(
            _to_physical(updated, state.get("column_map")), path
        )
        return added, _collect_stats(
            spark, path, added, partition_cols=state.get("partition_by"), bloom=state.get("bloom"), cmap=state.get("column_map")
        )

    added, stats = _rewrite(touched)
    entry = {
        "action": "delta",
        "add": added,
        "remove": touched,
        "stats": stats,
        "schema": state["schema"],
        "base": state["version"],
        "op": "update",
    }
    return _commit_dml_rebasing(
        spark,
        path,
        entry,
        state,
        probe=lambda newf: _touched_files(
            spark, path, newf, cond, state["schema"],
            cmap=state.get("column_map"),
        ),
        fold=_fold_delta(_rewrite),
    )


def table_merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    mode: str = "cow",
    evolve_schema: bool = False,
) -> int:
    """MERGE INTO, file-granular: batch rows win on key collision,
    unmatched target rows survive, brand-new keys insert. Semantics
    come from ``operators.cdc.merge_upsert`` (duplicate batch keys
    dedupe deterministically, last by the other columns' sort order).
    Returns the new version.

    ``mode="cow"`` (default): only the data files that CONTAIN a
    colliding key are rewritten; pure inserts and untouched files ride
    along in one atomic add/remove delta commit.

    ``mode="mor"`` (merge-on-read): NO existing file is rewritten —
    colliding target rows' POSITIONS go to deletion-vector sidecars
    and the (deduped) batch is appended as new files, both in one
    atomic ``dv`` entry. Write cost ∝ the batch + collided rows, never
    the touched files' bytes — the right shape for a small upsert
    batch landing scattered across many huge files. Purge with
    ``table_compact``.

    The touched-file probe broadcasts the batch's key set (MERGE
    batches are small relative to the table; for a table-sized batch
    use an overwrite rebuild instead). Concurrent plain appends are
    rebased over: an appended row with a colliding key is dropped in
    favor of the batch's version (MERGE serializes AFTER the append —
    batch wins, exactly as it would against a pre-existing row; under
    ``mor`` the appended loser is deletion-vector-marked); any other
    interleaved commit raises :class:`ConcurrentWriteConflict` — the
    lost-update hazard the round-6 docstring could only warn about is
    now detected.

    ``evolve_schema=True`` (round 10, VERDICT r9 #10) adopts NET-NEW
    source columns — Delta's MERGE ``withSchemaEvolution`` shape: the
    committed schema widens by the batch's extra columns
    (metadata-only for untouched files, which surface them as NULL;
    rewritten/appended files carry the values), with the same
    contract as ``table_commit(evolve_schema=True)``: every EXISTING
    column must be present at its exact type. A retired physical name
    is never reused (fresh uuid-suffixed physical, as in ADD COLUMN).
    Without the flag, a batch with extra columns raises — schema
    drift must be explicit.
    """
    from simple_data_workflow_spark.operators.cdc import merge_upsert

    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    state = _resolve_state(spark, path, None)
    from pyspark.sql.types import _parse_datatype_string as _pds

    cur_fields = list(_pds(state["schema"]))
    new_fields = [
        f for f in updates.schema.fields
        if f.name not in {g.name for g in cur_fields}
    ]
    missing = [
        g.name for g in cur_fields
        if g.name not in {f.name for f in updates.schema.fields}
    ]
    if missing:
        raise TypeError(
            f"MERGE batch at {path} must carry every existing column "
            f"(missing: {missing}); types coerce through the merge as "
            "before"
        )
    if new_fields and not evolve_schema:
        raise TypeError(
            f"MERGE batch carries columns not in the table schema: "
            f"{[f.name for f in new_fields]}; pass evolve_schema=True to "
            "adopt them (untouched files will surface them as NULL)"
        )
    evolve_extras: dict = {}
    if new_fields:
        # evolve the LOCAL state: the whole merge below then runs under
        # the widened schema — target reads NULL-fill the new columns
        # (schema-passed scans), the rewritten/appended files carry
        # them, and the commit publishes the widened schema atomically
        # with the data. Physical allocation mirrors table_add_column;
        # evolve_extras rides on the commit entry so readers learn the
        # grown column map with the same atomicity.
        cmap = dict(state.get("column_map") or {})
        used = set(state.get("used_physicals") or [])
        live_phys = {cmap.get(g.name, g.name) for g in cur_fields}
        retired = used - live_phys
        map_grew = False
        for f in new_fields:
            if f.name in retired or f.name in live_phys:
                cmap[f.name] = f"{f.name}__{uuid.uuid4().hex[:8]}"
                map_grew = True
        state = dict(state)
        state["schema"] = T.StructType(
            cur_fields + [T.StructField(f.name, f.dataType, True) for f in new_fields]
        ).simpleString()
        if map_grew or cmap or used:
            state["column_map"] = cmap
            state["used_physicals"] = sorted(
                used | live_phys | {cmap.get(f.name, f.name) for f in new_fields}
            )
            evolve_extras = {
                "column_map": cmap,
                "used_physicals": state["used_physicals"],
            }
    keys = updates.select(key).distinct()

    def _colliding(files: list[str]) -> list[str]:
        # _metadata.file_path, not input_file_name(): the DV anti-join
        # makes this a two-file-source plan (see _touched_files)
        snap = _scan_with_pos(
            spark, path, files, state["schema"],
            cmap=state.get("column_map"),
        )
        if state["dvs"]:
            snap = snap.join(
                _dv_frame(spark, path, state["dvs"]),
                ["__sdw_dv_name", "__sdw_dv_pos"],
                "left_anti",
            )
        rows = (
            snap.join(F.broadcast(keys), key, "left_semi")
            .select("__sdw_dv_name")
            .distinct()
            .collect()
        )
        by_name = {f.rsplit("/", 1)[-1]: f for f in files}
        return sorted(by_name[r["__sdw_dv_name"]] for r in rows)

    if not state["files"]:
        # empty snapshot (e.g. DELETE matched everything): merge is
        # insert-only — no files to probe (a zero-path parquet read
        # would throw), the batch commits as the whole new content
        touched: list[str] = []
    elif mode != "mor":
        touched = _colliding(state["files"])

    if mode == "mor":
        from pyspark.sql.types import _parse_datatype_string

        fields = list(_parse_datatype_string(state["schema"]))
        # dedupe the batch EXACTLY as the cow path does (merge against
        # an empty target = merge_upsert's deterministic last-wins),
        # then conform to the logged schema — cast pins declared types
        latest = merge_upsert(
            spark.createDataFrame([], updates.schema), updates, key
        )
        post = latest.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in fields]
        )
        _enforce_constraints(
            post, state.get("constraints") or {}, path, "MERGE batch"
        )

        def _stage_batch():
            added = _stage_data_files(
                _to_physical(post, state.get("column_map")), path
            )
            return added, _collect_stats(
                spark, path, added,
                partition_cols=state.get("partition_by"),
                bloom=state.get("bloom"), cmap=state.get("column_map"),
            )

        def _collide_rows():
            """ONE scan yields both the touched-file set and the DV
            positions — previously a name-only probe pass plus a
            second positions pass over the same files (guide §1.2)."""
            if not state["files"]:
                return None, []
            scan = _scan_with_pos(
                spark, path, state["files"], state["schema"],
                cmap=state.get("column_map"),
            )
            if state["dvs"]:
                scan = scan.join(
                    _dv_frame(spark, path, state["dvs"]),
                    ["__sdw_dv_name", "__sdw_dv_pos"],
                    "left_anti",
                )
            rows = (
                scan.join(F.broadcast(keys), key, "left_semi")
                .select(
                    "__sdw_dv_name", F.col("__sdw_dv_pos").alias("pos")
                )
                .localCheckpoint(eager=True)  # ∝ colliding rows
            )
            names = {
                r["__sdw_dv_name"]
                for r in rows.select("__sdw_dv_name").distinct().collect()
            }
            by_name = {f.rsplit("/", 1)[-1]: f for f in state["files"]}
            return rows, sorted(by_name[n] for n in names)

        # the batch write and the collide probe are independent jobs —
        # overlap them (guide §2.6)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            batch_fut = pool.submit(_stage_batch)
            rows_fut = pool.submit(_collide_rows)
            added, added_stats = batch_fut.result()
            crows, touched = rows_fut.result()

        def _mark_colliding(
            files: list[str], dvs: list[str]
        ) -> tuple[list[str], dict]:
            """Deletion-vector rows for target rows whose key collides
            with the batch, among ``files``."""
            scan = _scan_with_pos(
                spark, path, files, state["schema"],
                cmap=state.get("column_map"),
            )
            if dvs:
                # already-deleted rows must not be marked twice —
                # COUNT(*) subtracts dv_counts
                scan = scan.join(
                    _dv_frame(spark, path, dvs),
                    ["__sdw_dv_name", "__sdw_dv_pos"],
                    "left_anti",
                )
            name_to_ref = small_df(
                spark,
                [(f.rsplit("/", 1)[-1], f) for f in files],
                "__sdw_dv_name string, file string",
            )
            dv_rows = (
                scan.join(F.broadcast(keys), key, "left_semi")
                .select("__sdw_dv_name", F.col("__sdw_dv_pos").alias("pos"))
                .join(F.broadcast(name_to_ref), "__sdw_dv_name")
                .select("file", "pos")
            )
            dv_files = _stage_data_files(dv_rows, path)
            counts = {
                r["file"]: int(r["n"])
                for r in spark.read.schema("file string, pos bigint")
                .parquet(*[_data_path(path, d) for d in dv_files])
                .groupBy("file")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            return dv_files, counts

        if touched:
            name_to_ref = small_df(
                spark,
                [(f.rsplit("/", 1)[-1], f) for f in touched],
                "__sdw_dv_name string, file string",
            )
            dv_rows = (
                crows.join(F.broadcast(name_to_ref), "__sdw_dv_name")
                .select("file", "pos")
            )
            dv_files = _stage_data_files(dv_rows, path)
            counts = {
                r["file"]: int(r["n"])
                for r in dv_rows.groupBy("file")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        else:
            dv_files, counts = [], {}
        entry = {
            "action": "dv",
            "dv_add": dv_files,
            "dv_counts": counts,
            "add": added,
            "stats": added_stats,
            "schema": state["schema"],
            "base": state["version"],
            "op": "merge",
            **evolve_extras,
        }

        def _fold_mor_merge(e: dict, matching: list[str]) -> None:
            # interleaved appended rows with colliding keys are the
            # losers: DV them (the batch's version is already in the
            # entry's postimage files — no new adds); appended files
            # predate no vectors, so no anti-join needed
            extra, extra_counts = _mark_colliding(matching, [])
            e["dv_add"] = list(e["dv_add"]) + extra
            for f, n in extra_counts.items():
                e["dv_counts"][f] = e["dv_counts"].get(f, 0) + n

        return _commit_dml_rebasing(
            spark,
            path,
            entry,
            state,
            probe=_colliding,
            fold=_fold_mor_merge,
        )

    # every target row with a colliding key lives in a touched file by
    # construction, so merging the touched subset is exact
    target = (
        _read_files(
            spark, path, touched, state["schema"], dvs=state["dvs"],
            cmap=state.get("column_map"),
        )
        if touched
        else spark.createDataFrame([], state["schema"])
    )
    merged = merge_upsert(target, updates, key)
    _enforce_constraints(
        merged, state.get("constraints") or {}, path, "MERGE output"
    )
    added = _stage_data_files(
        _to_physical(merged, state.get("column_map")), path
    )

    def _drop_colliding(files: list[str]) -> tuple[list[str], dict]:
        # the batch's version of every colliding key is ALREADY in the
        # merged output — the appended duplicate is the loser
        kept = _read_files(
            spark, path, files, state["schema"], dvs=state["dvs"],
            cmap=state.get("column_map"),
        ).join(F.broadcast(keys), key, "left_anti")
        extra = _stage_data_files(
            _to_physical(kept, state.get("column_map")), path
        )
        return extra, _collect_stats(
            spark, path, extra, partition_cols=state.get("partition_by"), bloom=state.get("bloom"), cmap=state.get("column_map")
        )

    entry = {
        "action": "delta",
        "add": added,
        "remove": touched,
        "stats": _collect_stats(
            spark, path, added, partition_cols=state.get("partition_by"), bloom=state.get("bloom"), cmap=state.get("column_map")
        ),
        "schema": state["schema"],
        "base": state["version"],
        "op": "merge",
        **evolve_extras,
    }
    return _commit_dml_rebasing(
        spark,
        path,
        entry,
        state,
        probe=_colliding,
        fold=_fold_delta(_drop_colliding),
    )


# ------------------------------------------------------------- maintenance


def table_compact(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    zorder_by: list[str] | None = None,
    num_files: int | None = None,
) -> int:
    """Compact the table's CURRENT snapshot into ~``target_file_mb``
    files as one atomic overwrite commit — the log-native sibling of
    ``sinks.compact_parquet`` (no rename dance: the old fragmented
    files simply stop being referenced, stay time-travelable until
    ``table_vacuum``, and a failure mid-compaction leaves the log
    untouched).

    ``zorder_by=[col, ...]`` additionally re-clusters the snapshot on
    a Morton curve over those columns (``sinks.write_zorder_parquet``:
    range shuffle on the interleaved code, pure codegen) so per-file
    min/max stats tighten on EVERY listed column — the engine-level
    ``OPTIMIZE ZORDER BY``. A table with a declared ``partition_by``
    spec re-clusters on it instead of a blind ``coalesce`` (which
    would mix partition values into every output file and dull the
    membership pruning the spec exists for). Interleaved commits
    conflict rather than being silently dropped. Returns the new
    version."""
    state = _resolve_state(spark, path, None)
    total = sum(
        tablefs.stat(spark, _data_path(path, f))[0] for f in state["files"]
    )
    n_files = num_files or max(1, round(total / (target_file_mb * 1024 * 1024)))
    snapshot = _read_files(
        spark, path, state["files"], state["schema"], dvs=state.get("dvs"),
        cmap=state.get("column_map"),
    )
    cmap = state.get("column_map")
    snapshot = _to_physical(snapshot, cmap)
    if zorder_by:
        from simple_data_workflow_spark.sources.sinks import write_zorder_parquet

        zcols = [
            (cmap or {}).get(c, c) for c in zorder_by
        ]  # snapshot is physical now
        writer = lambda df, staging: write_zorder_parquet(  # noqa: E731
            df, staging, zcols, num_files=n_files
        )
        added = _stage_data_files(snapshot, path, writer=writer)
    elif state.get("partition_by"):
        added = _stage_data_files(
            snapshot.repartition(
                n_files,
                *_cluster_exprs(snapshot, state["partition_by"], cmap),
            ),
            path,
        )
    else:
        added = _stage_data_files(snapshot.coalesce(n_files), path)
    entry = {
        "action": "overwrite",
        "files": added,
        "stats": _collect_stats(
            spark, path, added, partition_cols=state.get("partition_by"), bloom=state.get("bloom"), cmap=state.get("column_map")
        ),
        "schema": state["schema"],
        "base": state["version"],
        "op": "compact",
    }
    return _commit_entry(spark, path, entry, base=state["version"])


def table_compact_small(
    spark: SparkSession,
    path: str,
    small_file_mb: float = 32.0,
    target_file_mb: int = 128,
) -> int:
    """Bin-pack ONLY the snapshot's small files (< ``small_file_mb``)
    into ~``target_file_mb`` files, committed as one atomic add/remove
    DELTA — the scale-right OPTIMIZE for the streaming-append
    small-file tail: a 100 TB table whose last day of micro-batches left 10 GB of
    small files rewrites 10 GB, never the table. Full
    :func:`table_compact` (an overwrite of everything) stays for
    re-clustering; this is the routine maintenance loop. Large files
    survive byte-identical under their old names; a partitioned table
    re-clusters the packed subset on its declared spec so the new
    files stay membership-prunable. Returns the new version (current
    one if fewer than two small files exist — nothing to pack)."""
    state = _resolve_state(spark, path, None)
    threshold = small_file_mb * 1024 * 1024
    small, small_bytes = [], 0
    for f in state["files"]:
        sz = tablefs.stat(spark, _data_path(path, f))[0]
        if sz < threshold:
            small.append(f)
            small_bytes += sz
    if len(small) < 2:
        return state["version"]
    n_files = max(1, round(small_bytes / (target_file_mb * 1024 * 1024)))
    packed = _read_files(
        spark, path, small, state["schema"], dvs=state.get("dvs"),
        cmap=state.get("column_map"),
    )
    if state.get("partition_by"):
        packed = packed.repartition(
            n_files, *_cluster_exprs(packed, state["partition_by"])
        )
    else:
        packed = packed.coalesce(n_files)
    added = _stage_data_files(
        _to_physical(packed, state.get("column_map")), path
    )
    entry = {
        "action": "delta",
        "add": added,
        "remove": small,
        "stats": _collect_stats(
            spark, path, added, partition_cols=state.get("partition_by"), bloom=state.get("bloom"), cmap=state.get("column_map")
        ),
        "schema": state["schema"],
        "base": state["version"],
        "op": "compact_small",
    }
    return _commit_entry(spark, path, entry, base=state["version"])


def table_truncate_history(
    spark: SparkSession, path: str, keep_last: int = 1, drop_tags: bool = False
) -> int:
    """Drop log entries older than the last ``keep_last`` versions —
    the retention knob that makes ``table_vacuum`` able to reclaim
    space (a data file is deletable only when NO retained version
    references it).

    Crash-safe sequencing: FIRST publish a full-state checkpoint at
    the cut version (atomic rename of a new file — the original entry
    is never deleted-then-rewritten), VERIFY it exists, THEN delete
    the ancestor entries. A crash at any point leaves either extra
    retained history (harmless) or the completed truncation — never a
    version that resolves to partial data. Returns the number of log
    entries removed.

    Tag retention: a tag (``table_tag``) pins its version. Truncation
    that would cut past a tagged version RAISES — the whole point of a
    tag is that ``table_read(tag=...)`` keeps working — unless
    ``drop_tags=True``, which first publishes a metadata commit
    deleting the in-the-way tags (auditable in history) and then
    truncates.
    """
    while True:
        entries, cps = _list_log(spark, path)
        if len(entries) <= keep_last:
            return 0
        cut = entries[-keep_last]
        head_tags = _resolve_state(spark, path, None)["tags"]
        stale = {n: v for n, v in head_tags.items() if v < cut}
        if not stale:
            break
        if not drop_tags:
            raise ValueError(
                f"truncation to keep_last={keep_last} would cut past tagged "
                f"versions {stale}; retag, or pass drop_tags=True to delete "
                "them"
            )
        # deleting a tag moves the cut (the delete is itself a commit),
        # so loop until the tag set and the cut agree
        _commit_entry(
            spark,
            path,
            {
                "action": "meta",
                "op": "drop_stale_tags",
                "tags": {n: None for n in stale},
            },
        )
    state = _resolve_state(spark, path, cut)
    cp_name = f"{cut:08d}.checkpoint.json"
    payload = {
        "files": state["files"],
        "schema": state["schema"],
        "stats": state["stats"],
    }
    # the entries being deleted may be the only ones carrying the
    # materialized-view cursor — the checkpoint must preserve it, or a
    # truncated view would re-fold its entire source on the next
    # refresh (silent double count)
    if state.get("src_version") is not None:
        payload["src_version"] = state["src_version"]
    if state.get("partition_by") is not None:
        payload["partition_by"] = state["partition_by"]
    if state.get("bloom") is not None:
        payload["bloom"] = state["bloom"]
    if state.get("column_map"):
        payload["column_map"] = state["column_map"]
    if state.get("used_physicals"):
        payload["used_physicals"] = state["used_physicals"]
    if state.get("constraints"):
        payload["constraints"] = state["constraints"]
    if state.get("tags"):
        payload["tags"] = state["tags"]
    payload["file_versions"] = state.get("file_versions", {})
    if state.get("dvs"):
        payload["dvs"] = state["dvs"]
        payload["dv_counts"] = state.get("dv_counts", {})
    _write_json_if_absent(spark, path, cp_name, payload)
    if not tablefs.exists(spark, f"{path}/_log/{cp_name}"):
        raise RuntimeError(
            f"checkpoint {cp_name} failed to publish; aborting truncation "
            "with all history intact"
        )
    removed = 0
    for v in entries:
        if v < cut:
            tablefs.remove(spark, f"{path}/_log/{v:08d}.json")
            removed += 1
    for c in cps:
        if c < cut:
            tablefs.remove(spark, f"{path}/_log/{c:08d}.checkpoint.json")
    return removed


# --------------------------------------------- stats scan + change feed


def table_scan(
    spark: SparkSession,
    path: str,
    filters: list[tuple] | None = None,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read with DRIVER-SIDE file skipping: prune the resolved
    file list against the per-file min/max stats recorded at commit
    time (``_stats_prune``; pyarrow-style ``(col, op, value)`` filter
    tuples), then scan only the surviving files WITH the same filters
    applied as row-level predicates (stats pruning is an optimization,
    never the filter itself).

    At 100 TB this is the difference between opening every file's
    footer (Spark's parquet row-group skipping still lists and touches
    all of them) and never listing the pruned files at all — the
    data-skipping benefit the real formats get from stats in the log.
    Combine with ``table_compact(zorder_by=...)``: z-ordered files have
    tight bboxes on every clustered column, so point/range filters on
    any of them prune most of the table here, driver-side."""
    state = _resolve_state(spark, path, version)
    files = state["files"]
    if filters:
        # stats are keyed by the files' stable PHYSICAL names; filters
        # arrive logical — translate once for pruning (row-level
        # application below stays logical). Naive temporal literals on
        # timestamp columns are first rewritten to the UTC instant the
        # session means, so UTC-serialized stats and the UTC transform
        # twin compare against the same instant the row-level filter
        # will (ADVICE r9 — a non-UTC reader must never prune a file
        # whose rows match under its own literal interpretation).
        norm = _utc_normalize_filters(spark, state["schema"], filters)
        cm = state.get("column_map") or {}
        pfilters = [(cm.get(c, c), o, v) for c, o, v in norm]
        # hidden partitioning: filters on a transform-partitioned RAW
        # column derive membership/range evidence on the transformed
        # per-file value sets (additive — pruning only, never the
        # row-level semantics). utc_ok holds: values were normalized.
        pfilters = pfilters + _derive_transform_filters(
            state.get("partition_by"), pfilters, cm, utc_ok=True
        )
        files = _stats_prune(state["stats"], files, pfilters)
        # bloom evidence composes on top: equality/IN on an indexed
        # high-cardinality column prunes where min/max ranges cannot
        files = _bloom_prune(state["stats"], files, pfilters)
    if not files:
        return spark.createDataFrame([], state["schema"])
    df = _read_files(
        spark, path, files, state["schema"], dvs=state.get("dvs"),
        cmap=state.get("column_map"),
    )
    for c, op, v in filters or []:
        col = F.col(c)
        if op in ("==", "="):
            cond = col == v
        elif op == "!=":
            cond = col != v
        elif op == "<":
            cond = col < v
        elif op == "<=":
            cond = col <= v
        elif op == ">":
            cond = col > v
        elif op == ">=":
            cond = col >= v
        elif op == "in":
            cond = col.isin(list(v))
        elif op == "isnull":
            cond = col.isNull()
        elif op == "notnull":
            cond = col.isNotNull()
        else:
            raise ValueError(f"unsupported filter op {op!r}")
        df = df.where(cond)
    return df


def table_changes(
    spark: SparkSession,
    path: str,
    start_version: int,
    end_version: int | None = None,
    allow_rewrites: bool = False,
) -> DataFrame:
    """Incremental read: the rows ADDED by versions in
    ``(start_version, end_version]`` with a ``_commit_version`` column
    — the consume-new-data half of a change feed, enough to tail a
    tablelog table from ``foreachBatch`` or a cursor-driven batch job
    (read up to the current version, persist the cursor, repeat). Cost
    is proportional to the NEW data, never the table.

    Append versions are exact new rows. ``overwrite``/``delta``
    versions rewrite existing rows (their added files mix updated and
    carried-over rows), so they raise unless ``allow_rewrites=True``
    — with it, every row in the files those versions added is surfaced
    tagged with its version (at-least-once semantics, like a change
    feed without preimages; dedupe downstream on a key). Raises
    ``ValueError`` if ``start_version`` predates retained history."""
    entries, _cps = _list_log(spark, path)
    if not entries:
        raise FileNotFoundError(f"no table log under {path}")
    upto = entries[-1] if end_version is None else end_version
    missing = set(range(start_version + 1, upto + 1)) - set(entries)
    if missing:
        raise ValueError(
            f"versions {sorted(missing)} in ({start_version}, {upto}] are "
            "not retained (history truncated) — changes cannot be replayed"
        )
    try:
        _st0 = (
            _resolve_state(spark, path, start_version)
            if start_version >= 0
            else None
        )
    except Exception:
        _st0 = None
    cur_cmap = dict((_st0 or {}).get("column_map") or {})
    parts = []
    for v in entries:
        if v <= start_version or v > upto:
            continue
        e = _read_json(spark, path, f"{v:08d}.json")
        # column mapping in effect at this version: physical names are
        # stable, so the entry-time map reads any file correctly
        if "column_map" in e:
            cur_cmap = dict(e["column_map"])
        if e["action"] == "meta":
            continue  # RENAME/DROP COLUMN: zero rows, metadata fact
        if e.get("op") in ("compact", "compact_small"):
            continue  # byte rewrite, zero logical change — metadata fact
        if e["action"] != "append" and not allow_rewrites:
            raise ValueError(
                f"version {v} is a {e.get('op', e['action'])!r} commit; its "
                "added files mix rewritten and carried-over rows — pass "
                "allow_rewrites=True for at-least-once change-feed semantics"
            )
        if e["action"] == "dv":
            # MoR deletes are invisible in an adds-only feed (same
            # contract as a delta's removals under allow_rewrites; use
            # table_changes_rowlevel for exact preimages); a MoR
            # UPDATE's postimage files are its adds — dv sidecars are
            # positions, not table rows, and never surface
            added = list(e.get("add", []))
        else:
            added = _entry_adds(e)
        if not added:
            continue
        parts.append(
            _read_files(
                spark, path, added, e.get("schema"), cmap=cur_cmap
            ).withColumn("_commit_version", F.lit(v).cast("long"))
        )
    if not parts:
        state = _resolve_state(spark, path, None)
        empty = spark.createDataFrame([], state["schema"])
        return empty.withColumn("_commit_version", F.lit(None).cast("long"))
    out = parts[0]
    for p in parts[1:]:
        # a feed spanning a metadata-only schema evolution has parts
        # with different widths; pre-evolution parts fill the added
        # columns with NULL, same as snapshot reads
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def table_changes_rowlevel(
    spark: SparkSession,
    path: str,
    start_version: int,
    end_version: int | None = None,
) -> DataFrame:
    """Row-level change feed: every row tagged ``_change_type``
    (``insert`` | ``delete``) and ``_commit_version`` — the CDF shape
    that lets downstream consumers (``operators.cdc``, the
    materialized view) fold DML commits EXACTLY instead of refusing
    them or settling for at-least-once.

    Per commit in ``(start_version, end_version]``:

    - ``append`` → every added row is an ``insert`` (no diff needed).
    - ``delta`` (file-granular DELETE/UPDATE/MERGE) → the preimage
      rows (in the removed files but not among the rewritten
      survivors) surface as ``delete``; rewritten-or-new rows not in
      the preimage surface as ``insert``. An UPDATE is therefore
      delete(pre) + insert(post) — exactly what signed aggregation
      consumes. The multiset diff is ``exceptAll`` over the TOUCHED
      files only, so cost ∝ the DML's data, never the table — the
      file-granularity of the DML bounds the feed the same way it
      bounds the rewrite.
    - ``overwrite`` with ``op="compact"`` → skipped: a compaction
      rewrites bytes, not rows — zero logical changes by construction,
      known from metadata alone (no diff scan at any table size).
    - other ``overwrite``s (restore, blind replace) → snapshot diff,
      FILE-LEVEL first: immutable data files common to both snapshots
      cancel exactly and are never read, so a RESTORE rolling back k
      appends costs ∝ those commits' files; only a blind overwrite
      that rewrites everything degrades to the full diff.

    Preimages read the REMOVED files, so the feed needs those versions
    retained (pre-vacuum) — same retention contract as time travel.
    """
    entries, _cps = _list_log(spark, path)
    if not entries:
        raise FileNotFoundError(f"no table log under {path}")
    upto = entries[-1] if end_version is None else end_version
    missing = set(range(start_version + 1, upto + 1)) - set(entries)
    if missing:
        raise ValueError(
            f"versions {sorted(missing)} in ({start_version}, {upto}] are "
            "not retained (history truncated) — changes cannot be replayed"
        )

    def tag(df: DataFrame, change: str, v: int) -> DataFrame:
        return df.withColumn("_change_type", F.lit(change)).withColumn(
            "_commit_version", F.lit(v).cast("long")
        )

    # deletion vectors in effect BEFORE each replayed commit: preimages
    # must subtract rows already MoR-deleted or a feed spanning a dv
    # commit would emit the same delete twice (once from the dv entry,
    # once from a later rewrite's raw preimage)
    cur_dvs: list[str]
    try:
        _st0 = (
            _resolve_state(spark, path, start_version)
            if start_version >= 0
            else None
        )
    except Exception:
        _st0 = None
    cur_dvs = list((_st0 or {}).get("dvs") or [])
    # column mapping in effect per replayed version (physical names are
    # stable, so the entry-time map reads files of any age correctly)
    cur_cmap = dict((_st0 or {}).get("column_map") or {})

    parts: list[DataFrame] = []
    for v in entries:
        if v <= start_version or v > upto:
            continue
        e = _read_json(spark, path, f"{v:08d}.json")
        action, schema = e["action"], e.get("schema")
        if "column_map" in e:
            cur_cmap = dict(e["column_map"])
        if action == "append":
            if e["files"]:
                parts.append(
                    tag(
                        _read_files(
                            spark, path, e["files"], schema, cmap=cur_cmap
                        ),
                        "insert",
                        v,
                    )
                )
        elif action == "dv":
            # MoR DML: the preimages are exactly the rows at the
            # marked positions of the unchanged target files — one
            # semi-join, cost ∝ the vectors' target files; a MoR
            # UPDATE's postimage files (``add``) are pure inserts
            targets = sorted(e.get("dv_counts", {}).keys())
            if targets and e.get("dv_add"):
                deletes = (
                    _scan_with_pos(
                        spark, path, targets, schema, cmap=cur_cmap
                    )
                    .join(
                        _dv_frame(spark, path, e["dv_add"]),
                        ["__sdw_dv_name", "__sdw_dv_pos"],
                        "left_semi",
                    )
                    .drop("__sdw_dv_name", "__sdw_dv_pos")
                )
                parts.append(tag(deletes, "delete", v))
            if e.get("add"):
                parts.append(
                    tag(
                        _read_files(
                            spark, path, e["add"], schema, cmap=cur_cmap
                        ),
                        "insert",
                        v,
                    )
                )
            cur_dvs = cur_dvs + list(e.get("dv_add", []))
        elif action == "delta":
            if e.get("op") == "compact_small":
                continue  # bin-pack: byte rewrite, zero logical change
            pre = (
                _read_files(
                    spark, path, e["remove"], schema, dvs=cur_dvs,
                    cmap=cur_cmap,
                )
                if e["remove"]
                else None
            )
            post = (
                _read_files(spark, path, e["add"], schema, cmap=cur_cmap)
                if e["add"]
                else None
            )
            if pre is not None and post is not None:
                parts.append(tag(pre.exceptAll(post), "delete", v))
                parts.append(tag(post.exceptAll(pre), "insert", v))
            elif pre is not None:
                parts.append(tag(pre, "delete", v))
            elif post is not None:  # pragma: no cover - delta always removes
                parts.append(tag(post, "insert", v))
        elif action == "overwrite":
            if e.get("op") == "compact":
                cur_dvs = list(e.get("dvs", []))  # compaction purges DVs
                continue  # byte rewrite, zero logical change — metadata fact
            old = _resolve_state(spark, path, v - 1) if v > 0 else None
            # diff at the FILE level first: data files are immutable, so
            # files common to both snapshots cancel exactly and never
            # need reading — a RESTORE that rolls back k appends costs
            # ∝ those k commits' files, not two full snapshots (the
            # general overwrite degrades gracefully to the full diff).
            # A file under a deletion vector on EITHER side must not
            # cancel: the bytes match but the visible rows may not
            # (e.g. restoring to a pre-delete version resurrects rows)
            new_dvs = list(e.get("dvs", []))
            protected = set((old or {}).get("dv_counts", {}) or {}) | set(
                e.get("dv_counts", {})
            )
            old_files = list(old["files"]) if old else []
            new_files = list(e["files"])
            pre_f = [
                f
                for f in old_files
                if f not in set(new_files) or f in protected
            ]
            post_f = [
                f
                for f in new_files
                if f not in set(old_files) or f in protected
            ]
            old_df = (
                _read_files(
                    spark, path, pre_f, old["schema"], dvs=cur_dvs,
                    cmap=(old or {}).get("column_map"),
                )
                if pre_f
                else None
            )
            new_df = (
                _read_files(
                    spark, path, post_f, schema, dvs=new_dvs, cmap=cur_cmap
                )
                if post_f
                else None
            )
            cur_dvs = new_dvs
            if old_df is not None and new_df is not None:
                parts.append(tag(old_df.exceptAll(new_df), "delete", v))
                parts.append(tag(new_df.exceptAll(old_df), "insert", v))
            elif old_df is not None:
                parts.append(tag(old_df, "delete", v))
            elif new_df is not None:
                parts.append(tag(new_df, "insert", v))
    if not parts:
        state = _resolve_state(spark, path, None)
        empty = spark.createDataFrame([], state["schema"])
        return empty.withColumn("_change_type", F.lit(None).cast("string")).withColumn(
            "_commit_version", F.lit(None).cast("long")
        )
    out = parts[0]
    for p in parts[1:]:
        # parts spanning a metadata-only schema evolution differ in
        # width; pre-evolution parts fill the added columns with NULL
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def table_restore(
    spark: SparkSession, path: str, version: int | None = None,
    tag: str | None = None,
) -> int:
    """RESTORE TABLE TO VERSION (or to a named ``tag``) — roll the
    table back to a retained snapshot as ONE metadata-only overwrite
    commit referencing that version's file list (no data movement at
    any table size; the files are immutable and still on disk until
    vacuum). The rollback is itself a new version, so it is auditable
    and reversible the same way; conflicts with interleaved commits
    like any read-modify-write. Returns the new version."""
    if (version is None) == (tag is None):
        raise ValueError("pass exactly one of version, tag")
    current = _resolve_state(spark, path, None)
    if tag is not None:
        if tag not in current["tags"]:
            raise ValueError(
                f"no tag {tag!r} at {path} (tags: {sorted(current['tags'])})"
            )
        version = current["tags"][tag]
    target = _resolve_state(spark, path, version)
    entry = {
        "action": "overwrite",
        "files": target["files"],
        "stats": target["stats"],
        "schema": target["schema"],
        "base": current["version"],
        "op": "restore",
        "restored_version": version,
    }
    # carry the application cursor (materialized view's src_version)
    # back with the data — restoring the rows but not the cursor would
    # make the next incremental refresh double-count the commits
    # between the restore point and the pre-restore head. Resolved at
    # the TARGET version (not the single entry), so restoring to a
    # maintenance commit (compact) still lands the cursor that was in
    # effect at that version.
    if target.get("src_version") is not None:
        entry["src_version"] = target["src_version"]
    # deletion vectors are snapshot state: restoring the files without
    # the vectors in effect at that version would resurrect rows
    if target.get("dvs"):
        entry["dvs"] = target["dvs"]
        entry["dv_counts"] = target.get("dv_counts", {})
    return _commit_entry(spark, path, entry, base=current["version"])


def table_row_count(
    spark: SparkSession, path: str, version: int | None = None
) -> int:
    """COUNT(*) answered from the commit log's per-file row counts —
    zero data files opened, at any table size (how the real formats
    serve ``SELECT COUNT(*)`` from metadata). Falls back to one count
    scan if any resolved file predates stats collection."""
    state = _resolve_state(spark, path, version)
    # merge-on-read deletes subtract from metadata: per-file deleted
    # counts ride the dv commits (keys for since-rewritten files are
    # dropped at replay, so this never double-subtracts)
    total = -sum(int(n) for n in state.get("dv_counts", {}).values())
    for f in state["files"]:
        n = state["stats"].get(f, {}).get("__rows")
        if n is None:
            # count the ALREADY-RESOLVED snapshot — re-resolving via
            # table_read(version=None) could race a concurrent commit
            # and count a different snapshot than the one inspected
            return _read_files(
                spark, path, state["files"], state["schema"],
                dvs=state.get("dvs"),
            ).count()
        total += n
    return total


# -------------------------------------------------------------------- clone


def table_clone(
    spark: SparkSession,
    src: str,
    dst: str,
    version: int | None = None,
    deep: bool = False,
) -> int:
    """CREATE TABLE ... CLONE src [VERSION AS OF v].

    Shallow (default): ONE metadata-only commit at ``dst`` whose file
    list references the source snapshot's immutable data files by
    absolute path — zero bytes copied at any table size (Delta's
    shallow clone). Per-file stats, schema, partition spec, CHECK
    constraints, and the materialized-view cursor all carry over, so
    scans prune and refreshes resume identically. The clone then
    diverges copy-on-write: appends/DML stage new files under the
    CLONE's own ``data/`` and only rewrite what they touch; the source
    is never modified. ``table_compact(dst)`` fully materializes the
    clone (rewrites every referenced byte locally), after which it is
    independent of the source.

    Source-retention safety (round 9): the clone registers a back-ref
    marker under ``{src}/_clones/`` BEFORE its commit publishes, and
    ``table_vacuum`` on the source keeps every file any live clone's
    retained log references — so vacuuming the source after history
    truncation no longer corrupts clones. Markers are garbage-
    collected once a clone is deleted or fully materialized
    (``table_compact(dst)`` then clone-side history truncation). Pass
    ``deep=True`` to copy the data through a real write instead (one
    scan + write, no shared fate at all).

    Returns the clone's commit version (0 for a fresh ``dst``).
    """
    state = _resolve_state(spark, src, version)
    if deep:
        snap = (
            _read_files(
                spark, src, state["files"], state["schema"],
                dvs=state.get("dvs"), cmap=state.get("column_map"),
            )
            if state["files"]
            else spark.createDataFrame([], state["schema"])
        )
        bl = state.get("bloom") or {}
        v0 = table_commit(
            snap,
            dst,
            mode="overwrite",
            partition_by=state.get("partition_by"),
            bloom_cols=bl.get("cols"),
            bloom_m=bl.get("m"),
            bloom_k=int(bl.get("k", _BLOOM_K)),
        )
        # a deep clone is advertised as an independent COPY: CHECK
        # constraints must carry or the clone's ingest validation is
        # silently weaker than the source's. One metadata entry (the
        # snapshot provably satisfies them — the source enforced every
        # write — so no re-scan)
        if state.get("constraints"):
            return _commit_entry(
                spark,
                dst,
                {
                    "action": "append",
                    "files": [],
                    "schema": state["schema"],
                    "constraints": state["constraints"],
                    "op": "clone_constraints",
                },
            )
        return v0
    src_abs = _abs_root(src)
    refs = [_data_path(src_abs, f) for f in state["files"]]
    stats = {
        _data_path(src_abs, f): s
        for f, s in state["stats"].items()
        if f in set(state["files"])
    }
    entry = {
        "action": "overwrite",
        "files": refs,
        "stats": stats,
        "schema": state["schema"],
        "op": "clone",
        "clone_of": [src_abs, int(state["version"])],
    }
    if state.get("partition_by") is not None:
        entry["partition_by"] = state["partition_by"]
    if state.get("constraints"):
        entry["constraints"] = state["constraints"]
    if state.get("bloom") is not None:
        entry["bloom"] = state["bloom"]
    # column mapping must ride the clone: the referenced files store
    # PHYSICAL names, and without the map a renamed column would read
    # as NULL through the clone (round-9 test-found bug)
    if state.get("column_map"):
        entry["column_map"] = state["column_map"]
    if state.get("used_physicals"):
        entry["used_physicals"] = state["used_physicals"]
    # deletion vectors ride along as absolute refs too: the sidecars
    # name target files by BASENAME, which the clone's refs preserve
    if state.get("dvs"):
        entry["dvs"] = [_data_path(src_abs, d) for d in state["dvs"]]
        entry["dv_counts"] = {
            _data_path(src_abs, f): n
            for f, n in state.get("dv_counts", {}).items()
        }
    # a cloned materialized view keeps its refresh cursor — its state
    # IS the fold up to src_version, clone included
    if state.get("src_version") is not None:
        entry["src_version"] = state["src_version"]
    # back-ref registration BEFORE the commit publishes (vacuum safety
    # order), at EVERY table whose data dir the refs point into — a
    # clone of a clone references the ORIGINAL's files directly, so it
    # registers there too, and each source's vacuum sees it
    roots = set()
    for r in refs + list(entry.get("dvs", [])):
        head, sep, _ = r.rpartition("/data/")
        if sep and head:
            roots.add(head)
    for root in roots:
        _register_clone_backref(spark, root, dst)
    return _commit_entry(spark, dst, entry)


# ----------------------------------------------- tags + metadata tables


def table_tag(
    spark: SparkSession, path: str, name: str, version: int | None = None
) -> int:
    """Create (or repoint) a named version anchor — Iceberg's tags:
    ``table_read(tag="v1.0-training-set")`` keeps resolving the exact
    snapshot a model was trained on, however many commits land after.
    One metadata commit (``tags`` merge in the log, zero data
    movement); the tag set rides checkpoints, so it survives history
    truncation — and truncation REFUSES to cut past a tagged version
    (see ``table_truncate_history``), which is what makes a tag a
    retention pin and not just a bookmark. Returns the tagging commit's
    version."""
    entries, cps = _list_log(spark, path)
    if not entries and not cps:
        raise FileNotFoundError(f"no table log under {path}")
    latest = max(entries[-1] if entries else -1, cps[-1] if cps else -1)
    v = latest if version is None else int(version)
    if v not in set(entries) | set(cps):
        raise ValueError(f"version {v} not in retained log at {path}")
    return _commit_entry(
        spark, path, {"action": "meta", "op": "tag", "tags": {name: v}}
    )


def table_drop_tag(spark: SparkSession, path: str, name: str) -> int:
    """Delete a tag (one metadata commit). The previously-tagged
    version stays readable while retained; it just loses its retention
    pin and its name."""
    tags = _resolve_state(spark, path, None)["tags"]
    if name not in tags:
        raise ValueError(f"no tag {name!r} at {path} (tags: {sorted(tags)})")
    return _commit_entry(
        spark, path, {"action": "meta", "op": "drop_tag", "tags": {name: None}}
    )


def table_tags(spark: SparkSession, path: str) -> dict:
    """The live tag set ``{name: version}`` — answered from the log
    alone."""
    return dict(_resolve_state(spark, path, None)["tags"])


_FILES_DF_SCHEMA = (
    "file string, size_bytes bigint, rows bigint, dv_deleted bigint, "
    "commit_version bigint, partition_values map<string, array<string>>"
)


def table_files_df(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """The FILES metadata table (Iceberg's ``db.t.files`` / Delta's
    ``DESCRIBE DETAIL`` granularity): one row per live data file of
    the snapshot — name, on-disk bytes, row count, merge-on-read
    deleted-row count, the commit that added it, and its recorded
    partition-value sets. Everything but ``size_bytes`` comes from the
    log alone; sizes are one driver-side ``tablefs.size`` per file
    (bounded by the snapshot's file count — the same budget every
    pruning decision already spends). This is the operability surface
    maintenance decisions read: small-file ratios for compaction,
    DV density for purge scheduling, per-commit data distribution."""
    state = _resolve_state(spark, path, version)
    rows = []
    for f in state["files"]:
        st = state["stats"].get(f, {})
        parts = st.get("__parts")
        try:
            size = tablefs.stat(spark, _data_path(path, f))[0]
        except Exception:
            size = None  # referenced file on a dead mount: surface, don't die
        rows.append(
            (
                f,
                size,
                int(st["__rows"]) if "__rows" in st else None,
                int(state.get("dv_counts", {}).get(f, 0)),
                state.get("file_versions", {}).get(f),
                {k: [str(x) for x in v] for k, v in parts.items()}
                if parts
                else None,
            )
        )
    return small_df(spark, rows, _FILES_DF_SCHEMA)


def table_partitions_df(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """The PARTITIONS metadata table: one row per (partition field,
    transformed value) with its file count and — where provable — its
    exact row count, from the log alone (zero data files opened).

    Exactness contract: ``n_rows`` is non-NULL only when every file
    containing the value holds THAT VALUE ALONE (single-value
    ``__parts`` set with a recorded row count). Hash-clustered commits
    may legitimately pack several values per file; those values report
    ``n_rows = NULL`` rather than a wrong number — the same
    conservative honesty the pruning path applies."""
    state = _resolve_state(spark, path, version)
    per_val: dict = {}
    for f in state["files"]:
        st = state["stats"].get(f, {})
        parts = st.get("__parts") or {}
        frows = st.get("__rows")
        ndv = int(state.get("dv_counts", {}).get(f, 0))
        for field, vals in parts.items():
            for v in vals:
                key = (field, str(v))
                n_files, n_rows, exact = per_val.get(key, (0, 0, True))
                single = len(vals) == 1 and frows is not None
                per_val[key] = (
                    n_files + 1,
                    n_rows + (int(frows) - ndv if single else 0),
                    exact and single,
                )
    rows = [
        (field, val, nf, nr if ex else None)
        for (field, val), (nf, nr, ex) in sorted(per_val.items())
    ]
    return small_df(
        spark, rows, "field string, value string, n_files bigint, n_rows bigint"
    )


# ------------------------------------------------- write-audit-publish


def table_publish_from(spark: SparkSession, src: str, staged: str) -> int:
    """Write-audit-publish (Iceberg's WAP pattern) on the native
    format: stage changes on a SHALLOW CLONE of ``src``, audit them
    there (run the CHECK constraints, the dedup job, the eval queries —
    production readers of ``src`` never see any of it), then publish
    the staged snapshot back to ``src`` as ONE atomic commit.

    Mechanics: the staged table's own data files are HARD-LINKED into
    ``src/data`` (same immutable bytes, zero copy on a local FS;
    copied on schemes without ``link``), refs that already point into
    ``src/data`` fold back to basenames, and refs into third tables
    (clone-of-clone) pass through with a vacuum back-ref registered —
    then one ``overwrite`` entry lands at ``src`` carrying the staged
    snapshot's file list, stats, schema, partition spec, constraint
    set, column map, and deletion vectors. Publication is
    conflict-checked against the clone's base version: if ``src``
    advanced since staging, it raises :class:`ConcurrentWriteConflict`
    instead of silently discarding the interleaved commits — re-clone
    and re-audit (the audit's whole promise is that what was audited
    is what publishes). A replayed publish attempt is safe: links of
    already-linked files are no-ops, and the commit slot check makes
    the log entry land at most once.

    After publishing, the staged table is disposable — delete its
    directory; its clone back-ref is garbage-collected by the next
    ``table_vacuum(src)``."""
    src_abs = _abs_root(src)
    s_entries, s_cps = _list_log(spark, staged)
    if not s_entries or s_entries[0] != 0:
        raise ValueError(
            f"staged table {staged} has no version-0 clone entry; "
            "stage with table_clone(src, staged)"
        )
    e0 = _read_json(spark, staged, "00000000.json")
    clone_of = e0.get("clone_of")
    if not clone_of or clone_of[0] != src_abs:
        raise ValueError(
            f"staged table {staged} was not cloned from {src} "
            f"(clone_of={clone_of}); write-audit-publish requires the "
            "stage to be a shallow clone of the publish target"
        )
    base = int(clone_of[1])
    head = _resolve_state(spark, src, None)
    if head["version"] != base:
        raise ConcurrentWriteConflict(
            f"{src} advanced to version {head['version']} after the stage "
            f"was cloned at {base}; re-clone, re-audit, re-publish"
        )
    st = _resolve_state(spark, staged, None)
    staged_abs = _abs_root(staged)

    def _adopt(ref: str) -> str:
        if "/" in ref:
            if ref.startswith(src_abs + "/data/"):
                return ref.rsplit("/", 1)[-1]  # fold back to our basename
            return ref  # third-table ref: passes through, back-ref below
        # the stage's own immutable file: link (or copy) into src/data;
        # uuid names are unique per staging write, so an existing target
        # IS this file, placed by an earlier publish that lost its race
        tablefs.link_or_copy(
            spark, f"{staged_abs}/data/{ref}", f"{src_abs}/data/{ref}"
        )
        return ref

    files = [_adopt(f) for f in st["files"]]
    name_map = dict(zip(st["files"], files))
    stats = {name_map.get(f, f): s for f, s in st["stats"].items()}
    entry: dict = {
        "action": "overwrite",
        "files": files,
        "stats": stats,
        "schema": st["schema"],
        "op": "publish",
        "published_from": [staged_abs, int(st["version"])],
        # full-replace keys: src's state must become EXACTLY the
        # audited state, including specs the stage dropped
        "partition_by": st.get("partition_by"),
        "bloom": st.get("bloom"),
        "column_map": st.get("column_map", {}),
        "used_physicals": st.get("used_physicals", []),
    }
    # constraints merge per-entry: explicit None tombstones for
    # src-head constraints the audited stage no longer carries
    cons = {k: None for k in head.get("constraints", {})}
    cons.update(st.get("constraints", {}))
    if cons:
        entry["constraints"] = cons
    if st.get("dvs"):
        entry["dvs"] = [_adopt(d) for d in st["dvs"]]
        entry["dv_counts"] = {
            name_map.get(f, f): n for f, n in st.get("dv_counts", {}).items()
        }
    if st.get("src_version") is not None:
        entry["src_version"] = st["src_version"]
    roots = set()
    for r in files + list(entry.get("dvs", [])):
        h, sep, _ = r.rpartition("/data/")
        if sep and h and h != src_abs:
            roots.add(h)
    for root in roots:
        _register_clone_backref(spark, root, src)
    return _commit_entry(spark, src, entry, base=base)


# ------------------------------------------------------------------ fsck


def table_verify(
    spark: SparkSession, path: str, check_rows: bool = False
) -> dict:
    """Consistency audit — ``fsck`` for the table format. Verifies, for
    the CURRENT snapshot and every retained version's references:

    - every referenced data file and DV sidecar exists on disk;
    - per-file recorded row counts are internally consistent
      (``dv_counts`` never exceeds the file's recorded rows);
    - tags point at retained versions;
    - clone back-ref markers parse (corrupt markers would silently
      weaken vacuum's keep-set);
    - with ``check_rows=True``, ONE count aggregate over the live
      snapshot confirms the physical row count equals the metadata
      count (``table_row_count``) — the only check that opens data
      files, priced accordingly.

    Returns ``{"ok": bool, "issues": [str, ...], "checked_files": n}``
    — issues name the broken invariant and the offending object, so
    the finding is actionable. Metadata-only by default: cost ∝ log
    size + one existence check per referenced file, independent of
    table bytes — runnable as a scheduled job against a 100 TB table."""
    issues: list[str] = []
    entries, cps = _list_log(spark, path)
    if not entries and not cps:
        return {"ok": False, "issues": [f"no table log under {path}"],
                "checked_files": 0}
    referenced: set[str] = set()
    for v in entries:
        try:
            referenced.update(_entry_adds(_read_json(spark, path, f"{v:08d}.json")))
        except Exception as exc:
            issues.append(f"log entry {v} unreadable: {exc}")
    for c in cps:
        try:
            cp = _read_json(spark, path, f"{c:08d}.checkpoint.json")
            referenced.update(cp["files"])
            referenced.update(cp.get("dvs", []))
        except Exception as exc:
            issues.append(f"checkpoint {c} unreadable: {exc}")
    missing = sorted(
        r for r in referenced if not tablefs.exists(spark, _data_path(path, r))
    )
    issues.extend(
        f"referenced file missing on disk: {m}" for m in missing[:20]
    )
    if len(missing) > 20:
        issues.append(f"... and {len(missing) - 20} more missing files")

    state = _resolve_state(spark, path, None)
    retained = set(entries) | set(cps)
    for name, tv in state.get("tags", {}).items():
        if tv not in retained:
            issues.append(
                f"tag {name!r} points at version {tv}, not in retained log"
            )
    for f, n in state.get("dv_counts", {}).items():
        frows = state["stats"].get(f, {}).get("__rows")
        if frows is not None and int(n) > int(frows):
            issues.append(
                f"dv_counts[{f}] = {n} exceeds the file's {frows} rows"
            )
        if f not in state["files"]:
            continue  # rewritten file's dead DV weight: harmless, documented
    # clone markers: corrupt/unparseable markers would drop files from
    # vacuum's keep-set silently
    for mname in sorted(tablefs.list_dir(spark, f"{path}/_clones") or []):
        if not mname.endswith(".json"):
            continue
        try:
            marker = json.loads(
                tablefs.read_file(spark, f"{path}/_clones/{mname}").decode("utf-8")
            )
            if "dst" not in marker:
                raise KeyError("dst")
        except Exception as exc:
            issues.append(f"clone marker {mname} unreadable: {exc}")
    if check_rows:
        meta_rows = table_row_count(spark, path)
        phys_rows = table_read(spark, path).count()
        if meta_rows != phys_rows:
            issues.append(
                f"metadata row count {meta_rows} != physical {phys_rows}"
            )
    return {
        "ok": not issues,
        "issues": issues,
        "checked_files": len(referenced),
    }
