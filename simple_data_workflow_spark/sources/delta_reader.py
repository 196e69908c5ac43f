"""Jar-free READ-ONLY Delta Lake interop (round 10, VERDICT r9 #3).

The Delta transaction log is a public, documented protocol
(delta.io PROTOCOL.md): ``_delta_log/`` holds zero-padded
``<version>.json`` commits — JSON-lines of actions (``metaData``,
``protocol``, ``add``, ``remove``, ``txn``, ``commitInfo``) — plus
optional ``<version>.checkpoint.parquet`` snapshots and a
``_last_checkpoint`` pointer. Reconstructing a snapshot needs no Delta
jar: replay the log driver-side (metadata-only — bytes ∝ log, never
data), resolve the live ``add`` file set, and read those parquet files
directly. This module does exactly that, closing the read half of
lakehouse interop in environments without the runtime jars
(``sources.lakehouse.read_table("delta", ...)`` falls back here).

Scope and guardrails — reader version 1/2 tables (the overwhelmingly
common case):

- **Supported**: partitioned tables (partition values injected from the
  log, cast per the table schema — Delta files do not store partition
  columns), URL-encoded and absolute file paths, checkpoint +
  trailing-commit replay, multi-part checkpoints, ``versionAsOf`` time
  travel, schema evolution across versions (latest ``metaData`` wins),
  and — since round 10's second half — merge-on-read DELETION VECTORS
  (inline/uuid-derived/absolute descriptors decoded by
  ``sources.delta_dv``; each file masks only its own row positions via
  ``_metadata.row_index`` + one Arrow-batched membership test) plus
  COLUMN MAPPING in ``name`` mode (scan by the schemaString's
  ``physicalName`` metadata, translated back to logical names at every
  nesting level with one positional struct cast per top-level column;
  partitionValues resolved by physical key)
  and COLUMN MAPPING in ``id`` mode (the scan schema carries each
  field's ``delta.columnMapping.id`` as ``parquet.field.id`` metadata
  and Spark's native field-id resolution
  (``spark.sql.parquet.fieldId.read.enabled``) matches parquet columns
  by id — the exact resolution rule the Delta spec mandates for id
  mode, honored without the jar).
- **Refused loudly** (never silently wrong): an id-mode table whose
  schema is missing ``delta.columnMapping.id`` on any field (by-id
  resolution cannot be honored), and unknown reader features.

Scale posture: the replay is driver-side metadata like every log
format's planning phase; the data read groups files by partition-value
combination and unions per-group scans, so Catalyst still gets plain
parquet scans with pushdown/pruning per group.
"""

from __future__ import annotations

import json
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from simple_data_workflow_spark.sources import tablefs
from simple_data_workflow_spark.smalldf import small_df


class DeltaFeatureUnsupported(NotImplementedError):
    """The table needs a reader feature this jar-free reader does not
    implement (column mapping). Reading it anyway would return WRONG
    rows, so this raises instead."""


def _strip_scheme(p: str) -> str:
    """``file:``/URI scheme → plain path, NO percent-decoding: the
    spelling table metadata records (Delta adds after the log's own
    unquote, Iceberg manifests, Hudi timelines) IS the on-disk literal
    name — which may itself contain ``%`` characters (Spark's
    partitioned writer escapes ``%`` in partition dir names), so
    decoding here would corrupt it."""
    import urllib.parse as _up

    if p.startswith("file:") or "://" in p:
        return _up.urlparse(p).path
    return p


def _full_path(root: str, rel: str) -> str:
    """A log's ``add``/``remove``/``cdc`` path (URI-encoded) as a file
    path: absolute ones (``/x``, ``file:/x``, ``s3a://b/x``) as they
    are, relative ones under ``root``."""
    dec = urllib.parse.unquote(rel)
    if dec.startswith(("/", "file:")) or "://" in dec:
        return dec
    return f"{root}/{dec}"


def _cmp_path(p: str) -> str:
    """SCAN-side path → the on-disk literal spelling.
    ``_metadata.file_path`` reports Hadoop's URI raw path: the disk
    name percent-ENCODED once (space → ``%20``, a literal ``%`` →
    ``%25``). Strip the scheme and decode exactly ONCE to recover the
    metadata/disk spelling. Apply ONLY to scan-derived values — the
    metadata side uses :func:`_strip_scheme` (round-12 continuation
    fix: raw-string comparisons silently dropped encoded-path files,
    under-deleting/under-rewriting)."""
    import urllib.parse as _up

    return _up.unquote(_strip_scheme(p))


def _scan_spelling(p: str) -> str:
    """The spelling ``_metadata.file_path`` reports for a file at
    DECODED local path ``p`` (scheme stripped): Hadoop's URI raw-path
    encoding — ASCII outside the URI-safe set percent-encodes,
    non-ASCII passes through (java.net.URI raw path). Use to key
    SQL-side broadcast maps that join against the scan column (the
    Python-side comparisons use :func:`_cmp_path` instead)."""
    import string as _string
    import urllib.parse as _up

    safe = frozenset(
        "/:@!$&'()*+,;=-._~" + _string.ascii_letters + _string.digits
    )
    return "".join(
        c if (ord(c) > 127 or c in safe) else _up.quote(c) for c in p
    )


def _list_log(spark: SparkSession, path: str):
    """(commit versions, {checkpoint version: [part files]}) in
    ``_delta_log`` — names follow the spec: ``<20-digit>.json``,
    ``<v>.checkpoint.parquet`` or ``<v>.checkpoint.<i>.<n>.parquet``."""
    names = tablefs.list_dir(spark, f"{path}/_delta_log")
    if names is None:
        raise FileNotFoundError(f"no _delta_log under {path}")
    commits: list[int] = []
    cps: dict[int, list[str]] = {}
    for name in names:
        if name.endswith(".json") and name[:-5].isdigit():
            commits.append(int(name[:-5]))
        elif ".checkpoint." in name and (
            name.endswith(".parquet") or name.endswith(".json")
        ):
            v = name.split(".checkpoint.")[0]
            if v.isdigit():
                cps.setdefault(int(v), []).append(
                    f"{path}/_delta_log/{name}"
                )
    return sorted(commits), cps


# whitelist, not blocklist: an UNKNOWN reader feature (e.g.
# v2Checkpoint's sidecar layout) could make the replay silently wrong,
# so only features this reader demonstrably handles pass.
_SUPPORTED_READER_FEATURES = {
    "deletionVectors",  # sources.delta_dv + _dv_masked_scan
    "columnMapping",    # name mode (physicalName scan) + id mode (field-id scan)
    "timestampNtz",     # plain type mapping, nothing to do at scan
    "v2Checkpoint",     # manifest + sidecar replay (_checkpoint_sources)
}


def _check_protocol(proto: dict | None, meta: dict | None) -> None:
    if proto:
        feats = set(proto.get("readerFeatures") or [])
        bad = feats - _SUPPORTED_READER_FEATURES
        if bad:
            raise DeltaFeatureUnsupported(
                f"Delta table requires reader features {sorted(bad)} this "
                "jar-free reader does not implement; refusing rather than "
                "return wrong rows (use the Delta runtime jar)"
            )
        if int(proto.get("minReaderVersion", 1)) >= 3 and not feats:
            # v3 without a feature list: can't prove the table is safe
            raise DeltaFeatureUnsupported(
                "Delta minReaderVersion >= 3 with no readerFeatures "
                "list; cannot verify feature support"
            )
    conf = (meta or {}).get("configuration") or {}
    mode = conf.get("delta.columnMapping.mode", "none")
    if mode not in ("none", "", "name", "id"):
        raise DeltaFeatureUnsupported(
            f"Delta column mapping mode {mode!r} is not supported by "
            "the jar-free reader (supported: none/name/id)"
        )


# round 13 (VERDICT r12 #1): the per-file Python replay that lived
# here (_apply_commit / _load_checkpoint / _checkpoint_sources'
# Spark-collect path) moved to ``sources.delta_state`` as an
# Arrow-native resolution — checkpoint adds stay in ONE pyarrow table,
# last-wins runs in Acero, and driver PyObject memory is flat in file
# count. This module keeps only the scan/projection logic.


def delta_snapshot_files(
    spark: SparkSession, path: str, version: int | None = None
) -> tuple[dict, dict, StructType, list[str]]:
    """Resolve a snapshot: ``({file path -> partitionValues},
    {file path -> deletionVector descriptor}, schema, partition
    columns)``. ``version=None`` = latest; an explicit version
    time-travels (replay stops there — the same semantics as
    ``versionAsOf``)."""
    resolved, dvs, schema, part_cols, _meta = _resolve_snapshot(
        spark, path, version
    )
    return resolved, dvs, schema, part_cols


def _open_snapshot(spark, path: str, version: int | None = None):
    """Arrow-native snapshot open (round 13): ``(DeltaSnapshot, schema,
    part_cols, meta)`` with the protocol whitelist checked. The live
    add set stays ONE pyarrow table (``sources.delta_state``); callers
    derive what they need vectorized."""
    from simple_data_workflow_spark.sources.delta_state import (
        replay_snapshot,
    )

    commits, cps = _list_log(spark, path)
    if not commits and not cps:
        raise FileNotFoundError(f"empty _delta_log under {path}")
    if version is not None and version not in commits and version not in cps:
        raise ValueError(
            f"version {version} not in the Delta log (have "
            f"{min(commits, default='?')}..{max(commits, default='?')})"
        )
    snap = replay_snapshot(spark, path, version)
    _check_protocol(snap.proto, snap.meta)
    meta = snap.meta
    if meta is None:
        raise ValueError(f"Delta log at {path} has no metaData action")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta.get("partitionColumns") or [])
    return snap, schema, part_cols, meta


def _resolve_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> tuple[dict, dict, StructType, list[str], dict]:
    """``delta_snapshot_files`` plus the resolved ``metaData`` action.
    Returns legacy per-file DICTS — kept for maintenance ops (DML
    staging, OPTIMIZE, VACUUM) whose output is per-file actions anyway;
    the scan path (``delta_read``) stays on the Arrow snapshot."""
    snap, schema, part_cols, meta = _open_snapshot(spark, path, version)
    full = snap.full_paths()
    return (
        snap.files_dict(full),
        snap.dv_dict(full),
        schema,
        part_cols,
        meta,
    )


# spec: this literal encodes a NULL partition value in partitionValues
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"

_PHYS_KEY = "delta.columnMapping.physicalName"


def _physical_name(field) -> str:
    return (field.metadata or {}).get(_PHYS_KEY, field.name)


def _physicalize(dt):
    """Rename every (nested) struct field to its column-mapping
    physical name — the names actually present in the parquet files of
    a mapped table."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    _physical_name(f), _physicalize(f.dataType), f.nullable
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_physicalize(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _physicalize(dt.keyType),
            _physicalize(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


_ID_KEY = "delta.columnMapping.id"


def _with_field_ids(dt):
    """Rebuild a schema keeping LOGICAL field names but carrying each
    field's ``delta.columnMapping.id`` as ``parquet.field.id`` metadata
    — the shape Spark's native field-id resolution
    (``spark.sql.parquet.fieldId.read.enabled``) consumes. Id-mode
    resolution is by-id at EVERY nesting level, so a field without an
    id cannot be honored and refuses."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        out = []
        for f in dt.fields:
            fid = (f.metadata or {}).get(_ID_KEY)
            if fid is None:
                raise DeltaFeatureUnsupported(
                    f"column mapping mode 'id' requires "
                    f"delta.columnMapping.id metadata on every field; "
                    f"{f.name!r} has none — by-id resolution cannot be "
                    "honored"
                )
            out.append(
                T.StructField(
                    f.name,
                    _with_field_ids(f.dataType),
                    f.nullable,
                    {"parquet.field.id": int(fid)},
                )
            )
        return T.StructType(out)
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_with_field_ids(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _with_field_ids(dt.keyType),
            _with_field_ids(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _is_mapped(schema: StructType) -> bool:
    from pyspark.sql import types as T

    def walk(dt):
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                if _PHYS_KEY in (f.metadata or {}):
                    return True
                if walk(f.dataType):
                    return True
        elif isinstance(dt, T.ArrayType):
            return walk(dt.elementType)
        elif isinstance(dt, T.MapType):
            return walk(dt.keyType) or walk(dt.valueType)
        return False

    return walk(schema)


def _dv_masked_scan(
    spark, data_schema, flist, dv_positions, file_col=None, row_col=None
):
    """Scan parquet files applying per-file deletion vectors: clean
    files take the plain codegen path; DV'd files read with
    ``_metadata.row_index`` and drop their deleted positions through
    ONE Arrow-batched mask UDF whose closure carries only the bitmaps
    (bytes ∝ deleted rows — the same broadcast Delta's own scan does;
    each batch tests membership with one vectorized ``np.isin``).
    ``file_col`` keeps ``_metadata.file_path`` as a named output column
    (DML needs per-row file provenance); ``row_col`` keeps
    ``_metadata.row_index`` (DV writing needs positions)."""
    import urllib.parse as _up

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    clean = [f for f in flist if f not in dv_positions]
    dirty = [f for f in flist if f in dv_positions]
    parts = []
    if clean:
        df = spark.read.schema(data_schema).parquet(*sorted(clean))
        extra = []
        if file_col:
            extra.append(F.col("_metadata.file_path").alias(file_col))
        if row_col:
            extra.append(F.col("_metadata.row_index").alias(row_col))
        if extra:
            df = df.select(*extra, "*")
        parts.append(df)
    if dirty:
        # masks key by the metadata/disk spelling; the lookup decodes
        # the scan spelling exactly once to meet it — a raw-string
        # lookup would silently skip encoded-path masks
        masks = {_strip_scheme(f): dv_positions[f] for f in dirty}

        # no type hints: module-level `from __future__ import
        # annotations` would stringify them beyond pyspark's resolver
        def _keep(fp, ri):
            out = np.ones(len(fp), dtype=bool)
            for p in fp.unique():
                key = _cmp_path(str(p))
                dead = masks.get(key)
                if dead is not None and len(dead):
                    sel = (fp == p).to_numpy()
                    out[sel] = ~np.isin(
                        ri.to_numpy()[sel].astype(np.int64), dead
                    )
            return pd.Series(out)

        keep = pandas_udf(_keep, "boolean")

        df = (
            spark.read.schema(data_schema)
            .parquet(*sorted(dirty))
            .select(
                "*",
                F.col("_metadata.file_path").alias("__fp"),
                F.col("_metadata.row_index").alias("__ri"),
            )
            .where(keep(F.col("__fp"), F.col("__ri")))
        )
        if file_col or row_col:
            extra = []
            if file_col:
                extra.append(F.col("__fp").alias(file_col))
            if row_col:
                extra.append(F.col("__ri").alias(row_col))
            df = df.select(
                *extra, *[f.name for f in data_schema.fields]
            )
        else:
            df = df.drop("__fp", "__ri")
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _filters_expr(filters):
    """The row-level WHERE for pyarrow-style ``(col, op, value)``
    tuples (ops ``== = != < <= > >= in isnull notnull``) — applied on
    top of file skipping so results equal a filtered full scan."""
    out = None
    for t in filters:
        col, op = t[0], t[1]
        val = t[2] if len(t) > 2 else None
        c = F.col(col)
        if op in ("==", "="):
            e = c == F.lit(val)
        elif op == "!=":
            e = c != F.lit(val)
        elif op == "<":
            e = c < F.lit(val)
        elif op == "<=":
            e = c <= F.lit(val)
        elif op == ">":
            e = c > F.lit(val)
        elif op == ">=":
            e = c >= F.lit(val)
        elif op == "in":
            e = c.isin(*list(val))
        elif op == "isnull":
            e = c.isNull()
        elif op == "notnull":
            e = c.isNotNull()
        else:
            raise ValueError(f"unsupported filter op {op!r}")
        out = e if out is None else (out & e)
    return out


def _delta_stats_map(
    spark: SparkSession, path: str, version, schema
) -> dict:
    """Per-file skipping evidence in ``tablelog._stats_prune``'s input
    shape, built from the log's add-action ``stats`` JSON (minValues /
    maxValues / nullCount) plus EXACT ``partitionValues`` membership
    (typed through the table schema — the log stores them as strings).
    Metadata-sized (one full-fidelity log replay)."""
    from simple_data_workflow_spark.sources.delta_writer import _replay_full

    adds, _m, _p, _v, _t = _replay_full(spark, path, version=version)
    types = {f.name: f.dataType for f in schema.fields}

    from pyspark.sql.types import (
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    def typed(col, v):
        if v is None or v == _NULL_PARTITION:
            return None
        t = types.get(col)
        try:
            if isinstance(t, (IntegerType, LongType, ShortType, ByteType)):
                return int(v)
            if isinstance(t, (DoubleType, FloatType)):
                return float(v)
        except (TypeError, ValueError):
            return v
        return v

    by_full = {}
    for rel, a in adds.items():
        full = _full_path(path, rel)
        per_col: dict = {}
        st = a.get("stats")
        if st:
            try:
                st = json.loads(st)
                mins = st.get("minValues") or {}
                maxs = st.get("maxValues") or {}
                nulls = st.get("nullCount") or {}
                for c in mins:
                    if c in maxs:
                        per_col[c] = (mins[c], maxs[c], nulls.get(c))
            except (ValueError, TypeError):
                pass
        pv = a.get("partitionValues") or {}
        if pv:
            per_col["__parts"] = {
                c: [typed(c, v)] for c, v in pv.items()
            }
        by_full[full] = per_col
    return by_full


def delta_read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    filters: list[tuple] | None = None,
) -> DataFrame:
    """Read a Delta table without the Delta jar: resolve the snapshot's
    live file set from the log, scan those parquet files directly,
    apply merge-on-read DELETION VECTORS (decoded by
    ``sources.delta_dv`` from inline/uuid/absolute descriptors, each
    file masking only its own row positions), and inject partition
    columns from the log's ``partitionValues`` (cast to their schema
    types — Delta data files do not store partition columns). Files
    group by partition-value combination so every clean group is one
    plain pushdown-friendly parquet scan. Column mapping: ``name`` mode
    scans by physicalName and renames back; ``id`` mode scans with
    ``parquet.field.id`` metadata under Spark's native field-id
    resolution — logical names come out directly.

    ``filters`` (pyarrow-style ``(col, op, value)`` tuples, ops
    ``== = != < <= > >= in isnull notnull``) enable DRIVER-SIDE FILE
    SKIPPING from the log's per-add stats (min/max/nullCount) and
    exact partitionValues — files the stats PROVE miss are never even
    scheduled (the Delta engine's data-skipping, metadata-sized) — and
    apply row-level on the survivors, so the result equals a filtered
    full scan."""
    import pyarrow as pa
    import pyarrow.compute as pc

    snap, schema, part_cols, meta = _open_snapshot(spark, path, version)
    full = snap.full_paths()
    row_filter = None
    if filters:
        from simple_data_workflow_spark.sources.tablelog import _stats_prune

        pfilters = [
            (t[0], t[1], t[2] if len(t) > 2 else None) for t in filters
        ]
        smap = _delta_stats_map(spark, path, version, schema)
        keep = set(_stats_prune(smap, sorted(full.to_pylist()), pfilters))
        mask = pc.is_in(
            full, value_set=pa.array(sorted(keep), type=pa.string())
        )
        snap.adds = snap.adds.filter(mask)
        full = full.filter(mask)
        row_filter = _filters_expr(filters)
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    id_mode = mode == "id"
    mapped = not id_mode and _is_mapped(schema)
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    data_schema = StructType(data_fields)
    if id_mode:
        # the conf is read when the scan is physically planned (at
        # action time), so it must stay set for the session — it is
        # inert for schemas without parquet.field.id metadata
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        from pyspark.sql.types import ArrayType, MapType

        if any(
            isinstance(f.dataType, (StructType, ArrayType, MapType))
            for f in data_fields
        ):
            # nested-schema pruning rewrites the read schema WITHOUT
            # the parquet.field.id metadata → pruned nested id-mode
            # columns silently read NULL; correctness over pruning
            spark.conf.set(
                "spark.sql.optimizer.nestedSchemaPruning.enabled", "false"
            )
        scan_schema = _with_field_ids(data_schema)
    else:
        scan_schema = _physicalize(data_schema) if mapped else data_schema
    # physical partitionValues key per logical partition column (mapped
    # tables key partitionValues by PHYSICAL name; fall back to logical)
    part_phys = {
        f.name: _physical_name(f)
        for f in schema.fields
        if f.name in part_cols
    }

    def logicalize(df):
        """Physical→logical rename at every nesting level: a cast
        between identical shapes renames struct fields positionally,
        so ONE cast per top-level column maps the whole subtree."""
        if not mapped:
            return df
        return df.select(
            *[
                F.col(_physical_name(f)).cast(f.dataType).alias(f.name)
                for f in data_fields
            ]
        )

    def fin(df):
        return df if row_filter is None else df.where(row_filter)

    if not snap.adds.num_rows:
        return fin(spark.createDataFrame([], schema))
    dvs = snap.dv_dict(full)
    dv_positions = {}
    if dvs:
        from simple_data_workflow_spark.sources.delta_dv import (
            read_dv_positions,
        )

        for f, desc in dvs.items():
            dv_positions[f] = read_dv_positions(
                lambda p: tablefs.read_file(spark, p), path, desc
            )
    if not part_cols:
        return fin(
            logicalize(
                _dv_masked_scan(
                    spark, scan_schema, sorted(full.to_pylist()), dv_positions
                )
            )
        )
    # vectorized: per-partition file lists grouped in Acero — Python
    # objects ∝ groups + the path strings the scan needs anyway
    groups = snap.partition_groups(part_cols, part_phys)
    types = {f.name: f.dataType for f in schema.fields}
    out = None
    for key, flist in sorted(groups, key=lambda kv: str(kv[0])):
        df = logicalize(
            _dv_masked_scan(spark, scan_schema, sorted(flist), dv_positions)
        )
        for c, v in zip(part_cols, key):
            lit = (
                F.lit(None)
                if v is None or v == _NULL_PARTITION
                else F.lit(v)
            )
            df = df.withColumn(c, lit.cast(types[c]))
        df = df.select(*[f.name for f in schema.fields])
        out = df if out is None else out.unionByName(df)
    return fin(out)


def delta_version_at_timestamp(spark: SparkSession, path: str, ts_ms: int) -> int:
    """Resolve ``timestampAsOf`` to a version: the LATEST commit whose
    timestamp is <= ``ts_ms``. Per PROTOCOL.md the commit timestamp is
    the ``commitInfo.timestamp`` when present, else the log file's
    modification time (Delta's own fallback). Raises if the table has
    no commit at or before the asked instant."""
    commits, _cps = _list_log(spark, path)
    best = None
    for v in commits:
        p = f"{path}/_delta_log/{v:020d}.json"
        t = tablefs.stat(spark, p)[1]
        raw = tablefs.read_file(spark, p).decode("utf-8")
        for line in raw.splitlines():
            if not line.strip():
                continue
            a = json.loads(line)
            if "commitInfo" in a:
                ci = a["commitInfo"]
                # inCommitTimestamp (table feature, 2024+ runtimes):
                # when present it IS the commit's timestamp — monotonic
                # by spec, preferred over wall-clock `timestamp`
                if ci.get("inCommitTimestamp"):
                    t = int(ci["inCommitTimestamp"])
                    break
                if ci.get("timestamp"):
                    t = int(ci["timestamp"])
                    break
        if t <= ts_ms and (best is None or v > best):
            best = v
    if best is None:
        raise ValueError(
            f"no Delta commit at or before timestamp {ts_ms} in {path}"
        )
    return best


def delta_history(spark: SparkSession, path: str) -> DataFrame:
    """The table's commit history as a DataFrame — Delta's DESCRIBE
    HISTORY shape (version, timestamp, operation, operationParameters)
    from the ``commitInfo`` actions. Metadata-sized (bytes ∝ log)."""
    commits, _cps = _list_log(spark, path)
    rows = []
    for v in commits:
        raw = tablefs.read_file(
            spark, f"{path}/_delta_log/{v:020d}.json"
        ).decode("utf-8")
        info = {}
        for line in raw.splitlines():
            if not line.strip():
                continue
            a = json.loads(line)
            if "commitInfo" in a:
                info = a["commitInfo"]
                break
        rows.append(
            (
                v,
                info.get("inCommitTimestamp") or info.get("timestamp"),
                info.get("operation"),
                json.dumps(info.get("operationParameters") or {}),
            )
        )
    return spark.createDataFrame(
        rows,
        "version long, timestamp long, operation string, "
        "operation_parameters string",
    )


def delta_table_changes(
    spark: SparkSession,
    path: str,
    starting_version: int = 0,
    ending_version: int | None = None,
) -> DataFrame:
    """CHANGE DATA FEED batch reader — Delta's ``table_changes(...)``
    (round 12, VERDICT r11 #4): the row-level changes committed in
    versions ``[starting_version, ending_version]``, as the table's
    LOGICAL columns plus ``_change_type`` (insert / delete /
    update_preimage / update_postimage), ``_commit_version`` and
    ``_commit_timestamp``.

    Per commit (PROTOCOL.md §Change Data Files): ``cdc`` actions are
    the whole truth when present — their ``_change_data/`` parquet
    files read directly; commits WITHOUT cdc actions derive from their
    add/remove actions per the spec: dataChange adds → ``insert`` rows,
    and (when CDF is enabled on the table) dataChange removes →
    ``delete`` rows — the removed file's LIVE rows as of the previous
    version, its then-DV applied (the overwrite/RESTORE shape; this
    engine's DML always writes cdc, so rewrite noise never reaches the
    derivation). Commits where nothing changed (OPTIMIZE republishes
    with dataChange=false) contribute no rows; a removal commit on a
    CDF-DISABLED table still RAISES (Delta's own table_changes errors
    on ranges where CDF was off). All change
    files of the range scan as ONE read per shape, with per-file
    (version, timestamp, partition values) injected through a
    metadata-sized broadcast join — no per-commit plan legs, no
    driver data path. Column mapping: name mode scans change files by
    physicalName and renames back; id mode (round 13) scans by
    parquet.field.id with logical names — both modes fully supported,
    matching the writer."""
    from pyspark.sql import types as T

    from simple_data_workflow_spark.sources.delta_writer import _replay_full

    _adds_now, meta, _proto, cur_v, _t = _replay_full(spark, path)
    if meta is None:
        raise ValueError(f"no Delta table at {path}")
    end = cur_v if ending_version is None else min(int(ending_version), cur_v)
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    id_mode = mode == "id"
    mapped = (not id_mode) and (mode == "name" or _is_mapped(schema))
    part_cols = list(meta.get("partitionColumns") or [])
    types = {f.name: f.dataType for f in schema.fields}
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    part_fields = [f for f in schema.fields if f.name in part_cols]
    # partitionValues key by PHYSICAL name in BOTH mapping modes; the
    # scan column name is physical in name mode but LOGICAL in id mode
    # (field-id resolution reads by id, names come out logical)
    phys = {
        f.name: _physical_name(f) if (mapped or id_mode) else f.name
        for f in schema.fields
    }
    rname = {f.name: phys[f.name] if mapped else f.name for f in schema.fields}
    if id_mode:
        from pyspark.sql.types import ArrayType, MapType

        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        if any(
            isinstance(f.dataType, (StructType, ArrayType, MapType))
            for f in data_fields
        ):
            spark.conf.set(
                "spark.sql.optimizer.nestedSchemaPruning.enabled", "false"
            )

    cdf_on = (
        str(
            (meta.get("configuration") or {}).get(
                "delta.enableChangeDataFeed", "false"
            )
        ).lower()
        == "true"
    )
    cdc_files: list[tuple[str, int, int | None, dict]] = []
    ins_files: list[tuple[str, int, int | None, dict]] = []
    # per-version derived DELETES (overwrite/restore without cdc):
    # version -> [(full path, pv, dv_positions_or_None)]
    rem_groups: dict[int, list] = {}
    ver_ts: dict[int, int | None] = {}
    for v in range(int(starting_version), end + 1):
        raw = tablefs.read_file(
            spark, f"{path}/_delta_log/{v:020d}.json"
        ).decode("utf-8")
        acts = [json.loads(x) for x in raw.splitlines() if x.strip()]
        ts = next(
            (a["commitInfo"].get("timestamp") for a in acts if "commitInfo" in a),
            None,
        )
        ver_ts[v] = ts
        cdcs = [a["cdc"] for a in acts if "cdc" in a]
        if cdcs:
            for c in cdcs:
                cdc_files.append(
                    (
                        _full_path(path, c["path"]),
                        v,
                        ts,
                        c.get("partitionValues") or {},
                    )
                )
            continue
        removes = [
            a["remove"]
            for a in acts
            if "remove" in a and a["remove"].get("dataChange", True)
        ]
        adds = [
            a["add"]
            for a in acts
            if "add" in a and a["add"].get("dataChange", True)
        ]
        if removes:
            if not cdf_on:
                raise ValueError(
                    f"version {v} of {path} removed rows without change "
                    "data — enable delta.enableChangeDataFeed before "
                    "running DML to make this range CDF-readable"
                )
            # spec derivation (PROTOCOL.md §Change Data Files): with CDF
            # enabled and no cdc actions, removes derive as DELETE rows
            # — the removed file's LIVE rows as of v-1 (its DV then
            # still masks already-dead rows). This is the
            # overwrite/restore shape; DML writers emit cdc, so
            # rewrite-noise never reaches here from this engine.
            from simple_data_workflow_spark.sources.delta_writer import (
                _replay_full,
            )

            prev_adds, _pm, _pp, _pv_, _pt = _replay_full(
                spark, path, version=v - 1
            )
            group = []
            for r in removes:
                rel = r["path"]
                prev = prev_adds.get(rel)
                pv = (
                    (prev or {}).get("partitionValues")
                    or r.get("partitionValues")
                    or {}
                )
                dv_pos = None
                desc = (prev or {}).get("deletionVector")
                if desc:
                    from simple_data_workflow_spark.sources.delta_dv import (
                        read_dv_positions,
                    )

                    dv_pos = read_dv_positions(
                        lambda p: tablefs.read_file(spark, p), path, desc
                    )
                group.append((_full_path(path, rel), pv, dv_pos))
            rem_groups[v] = group
        for a in adds:
            ins_files.append(
                (
                    _full_path(path, a["path"]),
                    v,
                    ts,
                    a.get("partitionValues") or {},
                )
            )

    out_fields = (
        list(schema.fields)
        + [
            T.StructField("_change_type", T.StringType()),
            T.StructField("_commit_version", T.LongType()),
            T.StructField("_commit_timestamp", T.TimestampType()),
        ]
    )
    out_schema = StructType(out_fields)
    if not cdc_files and not ins_files and not rem_groups:
        return spark.createDataFrame([], out_schema)

    if id_mode:
        # logical names + parquet.field.id metadata at every nesting
        # level — Spark's native field-id resolution scans by id
        read_fields = list(
            _with_field_ids(StructType(data_fields)).fields
        )
    else:
        read_fields = [
            T.StructField(
                phys[f.name],
                _physicalize(f.dataType) if mapped else f.dataType,
                f.nullable,
            )
            for f in data_fields
        ]

    def _scan(files_info, with_ct: bool) -> DataFrame:
        rs = StructType(
            list(read_fields)
            + ([T.StructField("_change_type", T.StringType())] if with_ct else [])
        )
        df = (
            spark.read.schema(rs)
            .parquet(*sorted({f[0] for f in files_info}))
            .select(
                "*",
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:/+", "/"
                ).alias("__fk"),
            )
        )
        map_rows = []
        for full, v, ts, pv in files_info:
            # __fk joins against the scan column: key by ITS spelling
            local = _scan_spelling(_strip_scheme(full))
            vals = [
                None
                if pv.get(phys[c], pv.get(c)) in (None, _NULL_PARTITION)
                else pv.get(phys[c], pv.get(c))
                for c in part_cols
            ]
            map_rows.append((local, v, ts, *vals))
        map_schema = T.StructType(
            [
                T.StructField("__fk", T.StringType()),
                T.StructField("__v", T.LongType()),
                T.StructField("__ts", T.LongType()),
            ]
            + [T.StructField(f"__pv_{c}", T.StringType()) for c in part_cols]
        )
        mapdf = small_df(spark, map_rows, map_schema)
        df = df.join(F.broadcast(mapdf), "__fk")
        return df.select(
            *[
                F.col(rname[f.name]).cast(f.dataType).alias(f.name)
                for f in data_fields
            ],
            *[
                F.col(f"__pv_{c}").cast(types[c]).alias(c)
                for c in part_cols
            ],
            (
                F.col("_change_type")
                if with_ct
                else F.lit("insert").alias("_change_type")
            ),
            F.col("__v").alias("_commit_version"),
            (F.col("__ts") / F.lit(1000.0))
            .cast("timestamp")
            .alias("_commit_timestamp"),
        )

    def _scan_removed(v: int, group) -> DataFrame:
        # the removed files' LIVE rows as of v-1 (their then-DVs mask
        # already-dead rows) → DELETE changes; one masked scan + one
        # broadcast partition-value map per such version (overwrites
        # and restores — rare commits, so the extra plan leg is fine)
        positions = {
            full: pos
            for full, _pv, pos in group
            if pos is not None and len(pos)
        }
        flist = sorted({full for full, _pv, _pos in group})
        base = _dv_masked_scan(
            spark,
            StructType(list(read_fields)),
            flist,
            positions,
            file_col="__fp0",
        )
        base = base.select(
            *[f.name for f in read_fields],
            F.regexp_replace(F.col("__fp0"), "^file:/+", "/").alias("__fk"),
        )
        map_rows = []
        for full, pv, _pos in group:
            local = _scan_spelling(_strip_scheme(full))
            vals = [
                None
                if pv.get(phys[c], pv.get(c)) in (None, _NULL_PARTITION)
                else pv.get(phys[c], pv.get(c))
                for c in part_cols
            ]
            map_rows.append((local, *vals))
        map_schema = T.StructType(
            [T.StructField("__fk", T.StringType())]
            + [T.StructField(f"__pv_{c}", T.StringType()) for c in part_cols]
        )
        base = base.join(
            F.broadcast(small_df(spark, map_rows, map_schema)), "__fk"
        )
        return base.select(
            *[
                F.col(rname[f.name]).cast(f.dataType).alias(f.name)
                for f in data_fields
            ],
            *[
                F.col(f"__pv_{c}").cast(types[c]).alias(c)
                for c in part_cols
            ],
            F.lit("delete").alias("_change_type"),
            F.lit(v).cast("long").alias("_commit_version"),
            (F.lit(ver_ts.get(v)) / F.lit(1000.0))
            .cast("timestamp")
            .alias("_commit_timestamp"),
        )

    parts = []
    if cdc_files:
        parts.append(_scan(cdc_files, True))
    if ins_files:
        parts.append(_scan(ins_files, False))
    for v in sorted(rem_groups):
        parts.append(_scan_removed(v, rem_groups[v]))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(*[f.name for f in out_schema.fields])
