"""Jar-free Delta Lake WRITE interop (round 10).

Companion to ``sources.delta_reader``: the Delta transaction log is a
public, documented protocol (delta.io PROTOCOL.md), so WRITING a
spec-conformant table needs no Delta jar either — stage plain parquet
data files with Spark's own writer, then publish one atomic
``_delta_log/<version>.json`` commit describing them.  Tables written
here round-trip through ``delta_reader.delta_read`` (pinned) and are
laid out exactly as the spec demands (protocol/metaData/add/remove
JSON-line actions, zero-padded versions, percent-encoded relative
paths, Hive-style partition directories with partition columns absent
from the data files, per-file ``stats`` JSON), so a real Delta runtime
can read them too.

What this writer emits (writer protocol 1/2 — the plain-parquet tier):

- ``create`` / ``append`` / ``overwrite`` modes with optional
  Hive-partitioned layout (``partitionValues`` in the log; NULL
  partition value ⇄ ``__HIVE_DEFAULT_PARTITION__`` directory).
- Per-file ``stats`` JSON (``numRecords``/``minValues``/``maxValues``/
  ``nullCount``) harvested from the parquet FOOTERS the tasks just
  wrote — zero extra scan, same trick as the tablelog streaming sink.
- ``commitInfo`` provenance on every commit.
- Classic checkpoints (``<v>.checkpoint.parquet`` + the
  ``_last_checkpoint`` pointer) via ``delta_checkpoint`` so log replay
  cost stays bounded as commits accumulate.
- Optimistic concurrency: commits publish if-absent (hard-link
  primitive, like ``tablelog._write_json_if_absent``); a lost race
  retries blind appends against the re-resolved snapshot and raises
  ``DeltaConcurrentWrite`` for overwrites.

Scale posture: the commit is metadata-sized (bytes ∝ files added, not
data); data movement is Spark's normal distributed parquet write plus
one driver-side rename per staged file — the same planning-phase cost
every log-format writer pays.  Nothing data-sized reaches the driver.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from simple_data_workflow_spark.sources import tablefs

from simple_data_workflow_spark.sources.delta_reader import (
    _full_path,
    _list_log,
    _NULL_PARTITION,
    _strip_scheme,
)


class DeltaConcurrentWrite(RuntimeError):
    """Another writer committed the version this write targeted."""


class DeltaSchemaMismatch(ValueError):
    """Append/overwrite schema is incompatible with the table."""


class DeltaConstraintViolation(ValueError):
    """Rows being written violate a table CHECK constraint."""


def _table_constraints(meta: dict | None) -> dict[str, str]:
    """CHECK constraints from table configuration — Delta stores each
    as ``delta.constraints.<name> = <sql expr>``."""
    conf = (meta or {}).get("configuration") or {}
    pre = "delta.constraints."
    return {k[len(pre):]: v for k, v in conf.items() if k.startswith(pre)}


# PROTOCOL.md "Table Features": upgrading a LEGACY protocol
# (minReader/minWriter versions) to the table-features form (reader 3 /
# writer 7) must list every feature the old version numbers implied —
# otherwise real engines either refuse the table or silently stop
# enforcing CHECK constraints / CDF (ADVICE r12, medium).
_LEGACY_WRITER_FEATURES = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("changeDataFeed", "generatedColumns"),
    5: ("columnMapping",),
    6: ("identityColumns",),
}
_LEGACY_READER_FEATURES = {2: ("columnMapping",), 3: ("deletionVectors",)}


def _legacy_implied_features(proto: dict) -> tuple[set, set]:
    """(readerFeatures, writerFeatures) implied by a legacy protocol's
    version numbers — plus whatever explicit feature lists it already
    carries. Feed the result into any 3/7 upgrade commit."""
    rf = set(proto.get("readerFeatures") or [])
    wf = set(proto.get("writerFeatures") or [])
    if proto.get("writerFeatures") is None:
        wv = int(proto.get("minWriterVersion", 2))
        for v, feats in _LEGACY_WRITER_FEATURES.items():
            if wv >= v:
                wf.update(feats)
    if proto.get("readerFeatures") is None:
        rv = int(proto.get("minReaderVersion", 1))
        for v, feats in _LEGACY_READER_FEATURES.items():
            if rv >= v:
                rf.update(feats)
    return rf, wf


def _enforce_constraints(df, meta: dict | None, operation: str):
    """Validate ``df`` (logical schema) against the table's CHECK
    constraints and return the DataFrame the caller must STAGE. Delta's
    rule: a row violates when the expression is FALSE **or NULL**
    (CheckDeltaInvariant), stricter than SQL CHECK.

    ADVICE r12 hardening: when constraints exist, the returned df is
    ``localCheckpoint``-pinned FIRST, so the validated rows are
    byte-identical to the staged rows even for non-deterministic
    sources (rand(), current_timestamp, re-read mutable input) — real
    Delta enforces invariants inside the write task for the same
    reason. Constraint expressions that do not RESOLVE against the
    incoming schema (overwrite_schema dropping a constrained column)
    raise a clean refusal instead of a raw AnalysisException. The
    common no-constraints case costs nothing and returns df as-is."""
    cons = sorted(_table_constraints(meta).items())
    if not cons:
        return df
    from pyspark.sql import functions as F
    from pyspark.errors import AnalysisException

    df = df.localCheckpoint()
    checks = [
        F.coalesce(F.expr(expr).cast("boolean"), F.lit(False)).alias(f"__c{i}")
        for i, (_name, expr) in enumerate(cons)
    ]
    any_bad = " OR ".join(f"(NOT __c{i})" for i in range(len(cons)))
    try:
        hit = df.select(*checks).where(any_bad).limit(1).collect()
    except AnalysisException as e:
        raise ValueError(
            f"{operation}: table CHECK constraint(s) "
            f"{[n for n, _e in cons]} do not resolve against the "
            f"incoming schema {df.columns} — drop the constraint(s) "
            f"first (delta_drop_constraint) or keep the columns they "
            f"reference ({e.getMessage().splitlines()[0] if hasattr(e, 'getMessage') else e})"
        ) from e
    if hit:
        row = hit[0]
        broken = [
            f"{name} CHECK ({expr})"
            for i, (name, expr) in enumerate(cons)
            if not row[f"__c{i}"]
        ]
        raise DeltaConstraintViolation(
            f"{operation} violates table constraint(s): {'; '.join(broken)}"
        )
    return df


# PROTOCOL.md "Table Features": a writer must support EVERY feature in
# writerFeatures before committing ANYTHING to the table — writing
# without honoring a feature (e.g. rowTracking's baseRowIds,
# inCommitTimestamp's monotonic stamps, domainMetadata preservation)
# silently corrupts state other engines rely on. Round 13: every
# commit-producing entry point gates through this check.
_SUPPORTED_WRITER_FEATURES = {
    "appendOnly",        # enforced below via delta.appendOnly
    "invariants",        # enforced below via field metadata check
    "checkConstraints",  # _enforce_constraints at every write path
    "changeDataFeed",    # cdc actions emitted by both DML engines
    "columnMapping",     # _stage_physical stages physically
    "deletionVectors",   # _dv_dml
    "v2Checkpoint",      # delta_checkpoint(format="v2")
    "timestampNtz",      # plain type mapping
    "generatedColumns",  # gated below: refuse when expressions exist
    "identityColumns",   # gated below: refuse when identity cols exist
    "domainMetadata",    # preserved through replay + checkpoints
}


def _check_writer_allowed(
    proto: dict | None, meta: dict | None, operation: str,
    removes_data: bool = False,
) -> None:
    """Refuse a commit this writer cannot make faithfully:

    - UNKNOWN writer features (rowTracking / domainMetadata /
      inCommitTimestamp / ...) — committing without maintaining them
      corrupts the table for engines that rely on them;
    - ``delta.appendOnly = true`` tables refuse data-removing commits
      (DELETE/UPDATE/MERGE/overwrite/RESTORE) — appends, OPTIMIZE
      (dataChange=false) and reads stay allowed, Delta's own rule;
    - schemas carrying GENERATED / IDENTITY column expressions or
      column INVARIANTS — this writer does not compute them, so a
      write would silently break the column contract."""
    wf = set((proto or {}).get("writerFeatures") or [])
    bad = sorted(wf - _SUPPORTED_WRITER_FEATURES)
    if bad:
        raise NotImplementedError(
            f"{operation}: table requires writer features {bad} this "
            "jar-free writer does not maintain; writing anyway would "
            "corrupt state other engines rely on (use the Delta "
            "runtime jar)"
        )
    conf = (meta or {}).get("configuration") or {}
    if removes_data and str(
        conf.get("delta.appendOnly", "false")
    ).lower() == "true":
        raise ValueError(
            f"{operation}: table is append-only "
            "(delta.appendOnly=true) — data-removing commits refuse"
        )
    if meta and meta.get("schemaString"):
        try:
            fields = json.loads(meta["schemaString"]).get("fields") or []
        except (ValueError, TypeError):
            fields = []
        for f in fields:
            md = f.get("metadata") or {}
            if "delta.generationExpression" in md:
                raise NotImplementedError(
                    f"{operation}: column {f.get('name')!r} is GENERATED "
                    "— this writer does not compute generation "
                    "expressions, so a write would break the contract"
                )
            if any(k.startswith("delta.identity.") for k in md):
                raise NotImplementedError(
                    f"{operation}: column {f.get('name')!r} is an "
                    "IDENTITY column — this writer does not allocate "
                    "identity values"
                )
            if "delta.invariants" in md:
                raise NotImplementedError(
                    f"{operation}: column {f.get('name')!r} carries an "
                    "INVARIANT expression this writer does not enforce"
                )


def _publish_if_absent(spark, path: str, name: str, body: str) -> bool:
    """Publish ``body`` as ``_delta_log/name`` if-absent
    (``tablefs.publish_if_absent``); returns whether this writer won."""
    return tablefs.publish_if_absent(
        spark, f"{path}/_delta_log", name, body.encode("utf-8")
    )


def _remove_orphans(spark, path: str, actions, full_paths=()) -> None:
    """Delete what a commit that lost its race staged and never
    referenced: the files of its add/cdc ``actions`` (paths relative to
    ``path``, URL-encoded) and the ``full_paths`` (DV sidecars)."""
    rels = (urllib.parse.unquote(a["path"]) for a in actions)
    for p in [*full_paths, *(f"{path}/{rel}" for rel in rels)]:
        tablefs.remove(spark, p)


def _replay_full(spark, path: str, version: int | None = None):
    """Full-fidelity snapshot replay: ``(adds, meta, proto, version,
    txns: {appId: version})``. ``adds`` is a read-only
    ``{relpath: add-dict}`` MAPPING backed by one Arrow table
    (``sources.delta_state``, round 13) — checkpoint seeding reads the
    parquet directly with pyarrow and last-wins resolution runs in
    Acero, so driver Python-object memory stays FLAT in file count;
    consumers that need individual add dicts box one at a time."""
    from simple_data_workflow_spark.sources.delta_state import (
        replay_snapshot,
    )

    snap = replay_snapshot(spark, path, version)
    return snap.adds_view(), snap.meta, snap.proto, snap.version, snap.txns


def delta_last_txn_version(spark: SparkSession, path: str, app_id: str) -> int:
    """The newest committed ``txn`` version for ``app_id`` (-1 when the
    app never committed) — the spec's streaming replay-dedup probe."""
    try:
        _, _, _, _, txns = _replay_full(spark, path)
    except FileNotFoundError:
        return -1
    return txns.get(app_id, -1)


_MAX_STAT_STR = 64


def _file_stats(local_path: str, part_cols: set[str]) -> str | None:
    """Delta ``stats`` JSON from the parquet footer the task already
    wrote (zero extra scan).  Atomic columns only; long strings and
    NaN bounds dropped — same serialization rules as the tablelog
    footer harvest."""
    import datetime as _dt
    import math

    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(local_path).metadata
    except Exception:
        return None

    def ser(v):
        if v is None or isinstance(v, bytes):
            return None
        if isinstance(v, bool):
            return v
        if isinstance(v, float):
            return None if math.isnan(v) else v
        if isinstance(v, int):
            return v
        if isinstance(v, (_dt.datetime, _dt.date)):
            return v.isoformat()
        if isinstance(v, str) and len(v) <= _MAX_STAT_STR:
            return v
        return None

    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    # min/max must cover EVERY row group or be omitted for the whole
    # file: aggregating only the serializable row groups records
    # tighter-than-true bounds (e.g. one group's true min is a >64-char
    # string that ser() drops), and engines that data-skip on stats
    # would then prune files that contain matching rows
    invalid: set = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name or name in part_cols:
                continue
            st = col.statistics
            if st is None:
                invalid.add(name)
                continue
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if name in invalid:
                continue
            if not st.has_min_max:
                # an all-null group carries no bound — harmless; a
                # group with values but no stats makes the file bound
                # untrustworthy
                if st.null_count is None or st.null_count != col.num_values:
                    invalid.add(name)
                continue
            lo, hi = ser(st.min), ser(st.max)
            if lo is None or hi is None:
                invalid.add(name)
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    for name in invalid:
        mins.pop(name, None)
        maxs.pop(name, None)
    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        }
    )


def _schema_types(schema: StructType) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in schema.fields}


def _stage_data_files(
    df: DataFrame, path: str, partition_by: list[str]
) -> list[dict]:
    """Distributed parquet write into a dot-staging dir, then rename
    each task file into the table tree (partition layout preserved) and
    build its ``add`` action — partition values parsed from the
    Hive-style dir names Spark itself produced, paths percent-encoded
    per spec, stats from the footers."""
    spark = df.sparkSession
    staging = f"{path}/.staging-{uuid.uuid4().hex}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    # names read off the disk join decoded roots (see tablefs.staged_files)
    table_root = tablefs.local_root(path) or path
    src = tablefs.local_root(staging) or staging
    part_set = set(partition_by)
    adds = []
    now = int(time.time() * 1000)
    for rel, flen, _ in tablefs.staged_files(spark, staging):
        if not rel.endswith(".parquet"):
            continue
        segs = rel.split("/")
        pv: dict[str, str | None] = {}
        for seg in segs[:-1]:
            if "=" not in seg:
                continue
            k, _, v = seg.partition("=")
            k = urllib.parse.unquote(k)
            pv[k] = None if v == _NULL_PARTITION else urllib.parse.unquote(v)
        dest = f"{table_root}/{rel}"
        tablefs.move(spark, f"{src}/{rel}", dest)
        stats = _file_stats(dest, part_set)
        add = {
            "path": "/".join(urllib.parse.quote(s, safe="=") for s in segs),
            "partitionValues": pv,
            "size": int(flen),
            "modificationTime": now,
            "dataChange": True,
        }
        if stats:
            add["stats"] = stats
        adds.append(add)
    tablefs.remove(spark, staging, recursive=True)
    return adds


def delta_write(
    df: DataFrame,
    path: str,
    mode: str = "error",
    partition_by: list[str] | None = None,
    overwrite_schema: bool = False,
    merge_schema: bool = False,
    txn: tuple[str, int] | None = None,
    _retries: int = 5,
) -> int:
    """Write ``df`` as a spec-conformant Delta table without the Delta
    jar; returns the committed version.

    ``mode``: ``error`` (create; fail if the table exists), ``append``
    (schema must match by name+type; partition spec inherited),
    ``overwrite`` (replace contents; a changed schema needs
    ``overwrite_schema=True``, Delta's own gate).  Appends that lose a
    commit race re-resolve and retry (they are order-free); creates and
    overwrites raise ``DeltaConcurrentWrite``.

    ``merge_schema=True`` (Delta's ``mergeSchema`` option) lets an
    APPEND carry NEW columns: the commit republishes metaData with the
    union schema (table columns first, net-new columns appended); rows
    in files written before the append read NULL for the new columns,
    and append rows may omit table columns (NULL on read). Type
    changes still refuse — mergeSchema adds columns, never mutates
    them. Column-mapped tables refuse (new columns would need fresh
    mapping ids).

    ``txn=(appId, version)`` emits the spec's ``txn`` action — the
    streaming replay-dedup handle: if the table already records a
    ``txn`` for this appId at a version ≥ the offered one, the write
    is a committed-replay and returns that existing table version as a
    NO-OP (Delta's ``(txnAppId, txnVersion)`` idempotent-write
    contract).
    """
    if mode not in ("error", "append", "overwrite"):
        raise ValueError(f"unsupported mode {mode!r}")
    spark = df.sparkSession
    try:
        cur_adds, cur_meta, cur_proto, cur_v, cur_txns = _replay_full(
            spark, path
        )
        exists = cur_meta is not None
    except FileNotFoundError:
        cur_adds, cur_meta, cur_proto, cur_v, exists = {}, None, None, -1, False
        cur_txns = {}
    if exists:
        _check_writer_allowed(
            cur_proto, cur_meta, f"{mode} write",
            removes_data=(mode == "overwrite"),
        )
    if txn is not None and cur_txns.get(txn[0], -1) >= int(txn[1]):
        return cur_v  # committed replay: idempotent no-op
    if exists and mode == "error":
        raise ValueError(
            f"Delta table already exists at {path} (mode='error')"
        )

    if exists:
        table_schema = StructType.fromJson(
            json.loads(cur_meta["schemaString"])
        )
        existing_parts = list(cur_meta.get("partitionColumns") or [])
        if partition_by is None:
            partition_by = existing_parts
        elif list(partition_by) != existing_parts and mode == "append":
            raise DeltaSchemaMismatch(
                f"append partition spec {partition_by} != table spec "
                f"{existing_parts}"
            )
        same = _schema_types(table_schema) == _schema_types(df.schema)
        merged_schema = None
        if not same:
            if mode == "append":
                if not merge_schema:
                    raise DeltaSchemaMismatch(
                        "append schema differs from the table schema "
                        f"({_schema_types(table_schema)} vs "
                        f"{_schema_types(df.schema)}); pass "
                        "merge_schema=True to add the new columns"
                    )
                mode_cm = ((cur_meta.get("configuration") or {}).get(
                    "delta.columnMapping.mode", "none"
                ))
                if mode_cm not in ("", "none"):
                    raise DeltaSchemaMismatch(
                        "merge_schema on a column-mapped table is not "
                        "supported (new columns need fresh mapping ids)"
                    )
                tt = _schema_types(table_schema)
                dt = _schema_types(df.schema)
                clash = sorted(
                    c for c in dt if c in tt and dt[c] != tt[c]
                )
                if clash:
                    raise DeltaSchemaMismatch(
                        "mergeSchema adds columns but never changes "
                        f"types; columns with type changes: {clash}"
                    )
                merged_schema = StructType(
                    list(table_schema.fields)
                    + [f for f in df.schema.fields if f.name not in tt]
                )
            elif not overwrite_schema:
                raise DeltaSchemaMismatch(
                    "overwrite with a different schema needs "
                    "overwrite_schema=True"
                )
            elif (
                (cur_meta.get("configuration") or {}).get(
                    "delta.columnMapping.mode", "none"
                )
                not in ("", "none")
            ):
                raise DeltaSchemaMismatch(
                    "overwrite_schema on a column-mapped table is not "
                    "supported (the replacement schema would lose its "
                    "mapping ids) — Delta's own writer refuses this too"
                )
        if same:
            # canonical column order = the table's
            df = df.select(*[f.name for f in table_schema.fields])
    else:
        merged_schema = None
    partition_by = list(partition_by or [])
    missing = [c for c in partition_by if c not in df.columns]
    if missing:
        raise ValueError(f"partition columns not in DataFrame: {missing}")

    if exists:
        # CHECK constraints gate incoming rows (appends AND the
        # replacement contents of an overwrite)
        df = _enforce_constraints(df, cur_meta, f"{mode} write")
    mode_cm = (
        ((cur_meta or {}).get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        if exists and merged_schema is None and not overwrite_schema
        else "none"
    )
    if mode_cm not in ("", "none"):
        # column-mapped tables store PHYSICAL column names (and
        # physical partition dirs) in their data files — stage through
        # the DML engines' physicalizer so appends after a RENAME
        # COLUMN keep reading correctly
        adds = _stage_physical(
            spark,
            path,
            df,
            {
                "schema": table_schema,
                "part_cols": partition_by,
                "mapped": mode_cm == "name",
                "id_mode": mode_cm == "id",
                # constraints were enforced above; no meta => no re-check
                "meta": None,
            },
            f"{mode} write",
        )
    else:
        adds = _stage_data_files(df, path, partition_by)
    now = int(time.time() * 1000)
    table_id = (cur_meta or {}).get("id") or str(uuid.uuid4())
    meta_action = {
        "metaData": {
            "id": table_id,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": (merged_schema or df.schema).json(),
            "partitionColumns": partition_by,
            # a republished metaData must not wipe table configuration
            "configuration": dict((cur_meta or {}).get("configuration") or {}),
            "createdTime": (cur_meta or {}).get("createdTime", now),
        }
    }
    need_meta = (
        not exists
        or merged_schema is not None
        or (
            mode == "overwrite"
            and (
                overwrite_schema
                or list((cur_meta or {}).get("partitionColumns") or [])
                != partition_by
            )
        )
    )

    for attempt in range(_retries):
        lines = [
            json.dumps(
                {
                    "commitInfo": {
                        "timestamp": now,
                        "operation": "WRITE",
                        "operationParameters": {
                            "mode": mode.upper(),
                            "partitionBy": json.dumps(partition_by),
                        },
                        "engineInfo": "simple-data-workflow-spark delta_writer",
                    }
                }
            )
        ]
        if not exists:
            lines.append(
                json.dumps(
                    {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
                )
            )
        if need_meta:
            lines.append(json.dumps(meta_action))
        if txn is not None:
            lines.append(
                json.dumps(
                    {
                        "txn": {
                            "appId": txn[0],
                            "version": int(txn[1]),
                            "lastUpdated": now,
                        }
                    }
                )
            )
        if mode == "overwrite":
            for rel in sorted(cur_adds):
                lines.append(
                    json.dumps(
                        {
                            "remove": {
                                "path": rel,
                                "deletionTimestamp": now,
                                "dataChange": True,
                            }
                        }
                    )
                )
        lines.extend(json.dumps({"add": a}) for a in adds)
        version = cur_v + 1
        if _publish_if_absent(
            spark, path, f"{version:020d}.json", "\n".join(lines) + "\n"
        ):
            return version
        if mode != "append":
            # the staged data files were already renamed into the table
            # tree but never referenced — clean them up before raising,
            # or retried overwrites accumulate orphans a vacuum of this
            # log can't see
            _remove_orphans(spark, path, adds)
            raise DeltaConcurrentWrite(
                f"version {version} of {path} was committed by another "
                "writer; re-run the overwrite against the new snapshot"
            )
        # blind appends are order-free: re-resolve and retry
        cur_adds, cur_meta, cur_proto, cur_v, cur_txns = _replay_full(
            spark, path
        )
        _check_writer_allowed(cur_proto, cur_meta, f"{mode} write")
        if txn is not None and cur_txns.get(txn[0], -1) >= int(txn[1]):
            return cur_v  # the racing writer WAS this txn: no-op
        if list(cur_meta.get("partitionColumns") or []) != partition_by:
            raise DeltaSchemaMismatch(
                "table partition spec changed while retrying the append"
            )
        new_table = StructType.fromJson(json.loads(cur_meta["schemaString"]))
        tt = _schema_types(new_table)
        dt = _schema_types(df.schema)
        if tt == dt:
            # the racer landed (or already had) exactly our columns —
            # no metaData republish needed anymore
            merged_schema, need_meta = None, False
        elif merge_schema:
            # recompute the merged schema against the RACER's metaData
            # (ADVICE r11: comparing the new table schema to df.schema
            # under mergeSchema raised unconditionally — they differ by
            # design — and replaying the stale pre-race meta_action
            # would clobber the racer's schema change); the clash and
            # column-mapping gates re-run because the racer may have
            # introduced either
            if ((cur_meta.get("configuration") or {}).get(
                "delta.columnMapping.mode", "none"
            )) not in ("", "none"):
                raise DeltaSchemaMismatch(
                    "merge_schema on a column-mapped table is not "
                    "supported (new columns need fresh mapping ids)"
                )
            clash = sorted(c for c in dt if c in tt and dt[c] != tt[c])
            if clash:
                raise DeltaSchemaMismatch(
                    "mergeSchema adds columns but never changes "
                    f"types; columns with type changes: {clash}"
                )
            merged_schema = StructType(
                list(new_table.fields)
                + [f for f in df.schema.fields if f.name not in tt]
            )
            need_meta = True
        else:
            raise DeltaSchemaMismatch(
                "table schema changed while retrying the append"
            )
        meta_action = {
            "metaData": {
                "id": cur_meta.get("id") or table_id,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": (merged_schema or df.schema).json(),
                "partitionColumns": partition_by,
                "configuration": dict(cur_meta.get("configuration") or {}),
                "createdTime": cur_meta.get("createdTime", now),
            }
        }
    raise DeltaConcurrentWrite(
        f"append to {path} lost the commit race {_retries} times"
    )


def delta_checkpoint(
    spark: SparkSession, path: str, format: str = "classic"
) -> int:
    """Write a checkpoint for the latest version so replay cost stays
    bounded (pre-checkpoint JSON commits become vacuum-able).

    ``format="classic"``: the single-file ``<v>.checkpoint.parquet``.
    ``format="v2"``: the V2 spec layout (PROTOCOL.md "V2 Checkpoint
    Spec") — file actions land in a ``_delta_log/_sidecars/<uuid>.parquet``
    sidecar and a ``<v>.checkpoint.<uuid>.parquet`` MANIFEST carries
    checkpointMetadata + protocol + metaData + txn + the ``sidecar``
    pointer; requires the ``v2Checkpoint`` reader feature, so a table
    without it first publishes a protocol-upgrade commit (reader 3 /
    writer 7, existing features carried).

    Remove tombstones are not carried (this writer's reader — and
    snapshot correctness generally — only needs the live add set;
    noted per PROTOCOL.md which keeps tombstones for VACUUM
    bookkeeping only). Feature-carrying protocols (readerFeatures /
    writerFeatures) persist verbatim — dropping them would make a
    DV/column-mapped table unreadable after log cleanup. The files are
    metadata-sized: pyarrow builds them driver-side and ``tablefs``
    writes them onto the table's own filesystem."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if format not in ("classic", "v2"):
        raise ValueError(f"unknown checkpoint format {format!r}")
    from simple_data_workflow_spark.sources.delta_state import (
        replay_snapshot,
    )

    snap = replay_snapshot(spark, path)
    meta, proto, version, txns = snap.meta, snap.proto, snap.version, snap.txns
    if meta is None:
        raise ValueError(f"Delta log at {path} has no metaData action")
    # a checkpoint of a table with unknown writer features would DROP
    # the state those features maintain (e.g. rowTracking baseRowIds,
    # domainMetadata actions) — refuse like any other commit
    _check_writer_allowed(proto, meta, "CHECKPOINT")
    # deletionVector descriptors are carried VERBATIM (dropping them
    # would silently un-delete rows once pre-checkpoint commits vacuum)
    proto = proto or {"minReaderVersion": 1, "minWriterVersion": 2}

    if format == "v2" and "v2Checkpoint" not in set(
        proto.get("readerFeatures") or []
    ):
        # the spec gates v2 checkpoints behind the reader feature —
        # upgrade first (one protocol-only commit), carrying existing
        # features plus the legacy-implied ones our reader checks
        impl_r, impl_w = _legacy_implied_features(proto)
        rfeats = impl_r | {"v2Checkpoint"}
        mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        if mode not in ("", "none"):
            rfeats.add("columnMapping")
        if _cdf_enabled(meta):
            impl_w.add("changeDataFeed")
        if _table_constraints(meta):
            impl_w.add("checkConstraints")
        wfeats = impl_w | rfeats
        new_proto = {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(rfeats),
            "writerFeatures": sorted(wfeats),
        }
        lines = [
            json.dumps(
                {
                    "commitInfo": {
                        "timestamp": int(time.time() * 1000),
                        "operation": "UPGRADE PROTOCOL",
                        "operationParameters": {
                            "newProtocol": json.dumps(new_proto)
                        },
                        "engineInfo": "simple-data-workflow-spark delta_writer",
                    }
                }
            ),
            json.dumps({"protocol": new_proto}),
        ]
        if not _publish_if_absent(
            spark, path, f"{version + 1:020d}.json", "\n".join(lines) + "\n"
        ):
            raise DeltaConcurrentWrite(
                f"v2Checkpoint protocol upgrade on {path} lost the race"
            )
        proto = new_proto
        version += 1

    def row(add=None, m=None, p=None, t=None, cm=None, sc=None, dm=None):
        return {
            "add": add,
            "metaData": m,
            "protocol": p,
            "txn": t,
            "checkpointMetadata": cm,
            "sidecar": sc,
            "domainMetadata": dm,
        }

    meta_row = {
        "id": meta.get("id"),
        "format": {"provider": "parquet", "options": []},
        "schemaString": meta.get("schemaString"),
        "partitionColumns": list(meta.get("partitionColumns") or []),
        "configuration": list((meta.get("configuration") or {}).items()),
        "createdTime": meta.get("createdTime"),
    }
    head_rows = [row(p=proto), row(m=meta_row)]
    for app_id in sorted(txns):
        # streaming replay-dedup evidence must survive checkpointing
        head_rows.append(row(t={"appId": app_id, "version": int(txns[app_id])}))
    for dom in sorted(snap.domains):
        # spec: checkpoints carry the latest domainMetadata per domain
        # (dropping them would erase state features like clustering
        # metadata rely on)
        d = snap.domains[dom]
        head_rows.append(
            row(
                dm={
                    "domain": d.get("domain"),
                    "configuration": d.get("configuration"),
                    "removed": bool(d.get("removed", False)),
                }
            )
        )

    kv = pa.map_(pa.string(), pa.string())
    fields = {
        "add": pa.field(
            "add",
            pa.struct(
                [
                    pa.field("path", pa.string()),
                    pa.field("partitionValues", kv),
                    pa.field("size", pa.int64()),
                    pa.field("modificationTime", pa.int64()),
                    pa.field("dataChange", pa.bool_()),
                    pa.field("stats", pa.string()),
                    pa.field(
                        "deletionVector",
                        pa.struct(
                            [
                                pa.field("storageType", pa.string()),
                                pa.field("pathOrInlineDv", pa.string()),
                                pa.field("offset", pa.int32()),
                                pa.field("sizeInBytes", pa.int32()),
                                pa.field("cardinality", pa.int64()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        "metaData": pa.field(
            "metaData",
            pa.struct(
                [
                    pa.field("id", pa.string()),
                    pa.field(
                        "format",
                        pa.struct(
                            [
                                pa.field("provider", pa.string()),
                                pa.field("options", kv),
                            ]
                        ),
                    ),
                    pa.field("schemaString", pa.string()),
                    pa.field("partitionColumns", pa.list_(pa.string())),
                    pa.field("configuration", kv),
                    pa.field("createdTime", pa.int64()),
                ]
            ),
        ),
        "protocol": pa.field(
            "protocol",
            pa.struct(
                [
                    pa.field("minReaderVersion", pa.int32()),
                    pa.field("minWriterVersion", pa.int32()),
                    # feature lists persist verbatim (DV / column-mapped
                    # tables would otherwise become unreadable once the
                    # pre-checkpoint commits vacuum)
                    pa.field("readerFeatures", pa.list_(pa.string())),
                    pa.field("writerFeatures", pa.list_(pa.string())),
                ]
            ),
        ),
        "txn": pa.field(
            "txn",
            pa.struct(
                [
                    pa.field("appId", pa.string()),
                    pa.field("version", pa.int64()),
                ]
            ),
        ),
        "checkpointMetadata": pa.field(
            "checkpointMetadata",
            pa.struct([pa.field("version", pa.int64()), pa.field("tags", kv)]),
        ),
        "sidecar": pa.field(
            "sidecar",
            pa.struct(
                [
                    pa.field("path", pa.string()),
                    pa.field("sizeInBytes", pa.int64()),
                    pa.field("modificationTime", pa.int64()),
                ]
            ),
        ),
        "domainMetadata": pa.field(
            "domainMetadata",
            pa.struct(
                [
                    pa.field("domain", pa.string()),
                    pa.field("configuration", pa.string()),
                    pa.field("removed", pa.bool_()),
                ]
            ),
        ),
    }

    def table(rows, names):
        schema = pa.schema([fields[n] for n in names])
        return pa.Table.from_pylist(
            [{n: r[n] for n in names} for r in rows], schema=schema
        )

    def adds_table(names):
        """The live add set as checkpoint rows — built COLUMN-WISE from
        the Arrow snapshot state (round 13): no per-file Python boxing,
        DV descriptors carried verbatim."""
        at = snap.adds.sort_by([("path", "ascending")])
        n = at.num_rows

        def arr(name):
            c = at.column(name)
            c = c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c
            return c

        add_t = fields["add"].type
        struct = pa.StructArray.from_arrays(
            [
                arr("path"),
                arr("partitionValues"),
                arr("size"),
                arr("modificationTime"),
                pa.array([True] * n, pa.bool_()),
                arr("stats"),
                arr("deletionVector"),
            ],
            fields=list(add_t),
        )
        cols = {
            nm: (struct if nm == "add" else pa.nulls(n, fields[nm].type))
            for nm in names
        }
        return pa.table(cols, schema=pa.schema([fields[nm] for nm in names]))

    def parquet_bytes(t) -> bytes:
        buf = pa.BufferOutputStream()
        pq.write_table(t, buf)
        return buf.getvalue().to_pybytes()

    log = f"{path}/_delta_log"
    now = int(time.time() * 1000)
    if format == "classic":
        names4 = ["add", "metaData", "protocol", "txn", "domainMetadata"]
        t = pa.concat_tables([table(head_rows, names4), adds_table(names4)])
        tablefs.write_file(
            spark, f"{log}/{version:020d}.checkpoint.parquet", parquet_bytes(t)
        )
        n_actions = t.num_rows
    else:
        sc_name = f"{uuid.uuid4()}.parquet"
        side = adds_table(["add"])
        sc_bytes = parquet_bytes(side)
        tablefs.write_file(spark, f"{log}/_sidecars/{sc_name}", sc_bytes)
        manifest_rows = [
            row(cm={"version": version, "tags": []}),
            *head_rows,
            row(
                sc={
                    "path": sc_name,
                    "sizeInBytes": len(sc_bytes),
                    "modificationTime": now,
                }
            ),
        ]
        t = table(
            manifest_rows,
            [
                "checkpointMetadata",
                "protocol",
                "metaData",
                "txn",
                "sidecar",
                "domainMetadata",
            ],
        )
        tablefs.write_file(
            spark,
            f"{log}/{version:020d}.checkpoint.{uuid.uuid4()}.parquet",
            parquet_bytes(t),
        )
        n_actions = len(manifest_rows) + side.num_rows
    tablefs.write_file(
        spark,
        f"{log}/_last_checkpoint",
        json.dumps({"version": version, "size": n_actions}).encode(),
    )
    return version


# ---------------------------------------------------------------------------
# copy-on-write DML (round 10 second half): DELETE / UPDATE on the
# public log format — the same rewrite shape Delta's own CoW DML uses.
# Round 11: shared snapshot-view builder (one scan + broadcast partition
# injection), column-mapping + DV support, and a merge-on-read DELETE
# that writes deletion vectors instead of rewriting files.
# ---------------------------------------------------------------------------


def _snapshot_view(
    spark: SparkSession,
    path: str,
    operation: str,
    row_col: str | None = None,
    files_subset: set | None = None,
) -> dict | None:
    """One logical-schema DataFrame over the CURRENT snapshot with
    per-row file provenance (``__file``; optionally row positions via
    ``row_col``): DV-masked scan, column-mapping logicalization, and
    partition values injected through ONE broadcast join against a
    metadata-sized (file → partition values) mapping — plan size O(1)
    in partition count. Returns None for an empty table.

    ``files_subset`` restricts the SCAN (and the sidecar reads) to the
    named data files while the returned metadata (``adds_now``,
    ``meta``, ``proto``, ``cur_v``) stays snapshot-complete — the
    DML probe/hit pruning path: a caller that has PROVEN (via log
    stats or an earlier probe at the same version) that matches can
    only live in a subset never pays a full-table scan."""
    import urllib.parse as _up

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from simple_data_workflow_spark.sources.delta_reader import (
        _NULL_PARTITION,
        _check_protocol,
        _dv_masked_scan,
        _is_mapped,
        _physical_name,
        _physicalize,
        _scan_spelling,
        _with_field_ids,
    )
    from simple_data_workflow_spark.sources.delta_state import (
        replay_snapshot,
    )

    # ONE Arrow-native replay (round 13) — file/DV dicts derived from
    # it are transient per-DML-op; the retained state stays columnar
    snapshot = replay_snapshot(spark, path)
    _check_protocol(snapshot.proto, snapshot.meta)
    meta, proto, cur_v = snapshot.meta, snapshot.proto, snapshot.version
    if meta is None:
        raise ValueError(f"Delta log at {path} has no metaData action")
    # every _snapshot_view caller is a row-removing DML engine
    _check_writer_allowed(proto, meta, operation, removes_data=True)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta.get("partitionColumns") or [])
    _fullp = snapshot.full_paths()
    files = snapshot.files_dict(_fullp)
    dvs = snapshot.dv_dict(_fullp)
    adds_now = snapshot.adds_view()
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    id_mode = mode == "id"
    mapped = not id_mode and (_is_mapped(schema) or mode == "name")
    if not files:
        return None
    if files_subset is not None:
        files = {f: pv for f, pv in files.items() if f in files_subset}
        if not files:
            return None
        dvs = {f: d for f, d in dvs.items() if f in files}
    types = {f.name: f.dataType for f in schema.fields}
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    data_schema = StructType(data_fields)
    part_fields = [f for f in schema.fields if f.name in part_cols]
    if id_mode:
        # nested columns resolve by id on the read (_with_field_ids
        # recurses) AND restage with nested ids on the write
        # (_phys_with_ids — the cast target type carries nested
        # metadata into the footers)
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        if any(
            isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType))
            for f in data_fields
        ):
            # Spark's nested-schema pruning rewrites the read schema
            # WITHOUT the parquet.field.id metadata, so a pruned
            # nested id-mode column silently reads NULL — trade the
            # pruning win for correctness while such tables are in play
            spark.conf.set(
                "spark.sql.optimizer.nestedSchemaPruning.enabled", "false"
            )
        scan_schema = _with_field_ids(data_schema)
    else:
        scan_schema = _physicalize(data_schema) if mapped else data_schema

    dv_positions = {}
    if dvs:
        from simple_data_workflow_spark.sources.delta_dv import (
            read_dv_positions,
        )

        for f, desc in dvs.items():
            dv_positions[f] = read_dv_positions(
                lambda p: tablefs.read_file(spark, p), path, desc
            )

    lead = ["__file"] + ([row_col] if row_col else [])
    snap = _dv_masked_scan(
        spark,
        scan_schema,
        sorted(files),
        dv_positions,
        file_col="__file",
        row_col=row_col,
    )
    if mapped:
        snap = snap.select(
            *lead,
            *[
                F.col(_physical_name(f)).cast(f.dataType).alias(f.name)
                for f in data_fields
            ],
        )
    if part_cols:
        part_phys = {f.name: _physical_name(f) for f in part_fields}
        map_rows = []
        for f, pv in files.items():
            vals = []
            for c in part_cols:
                v = pv.get(part_phys[c], pv.get(c))
                vals.append(None if v is None or v == _NULL_PARTITION else v)
            local = _up.urlparse(f).path if "://" in f else f
            # key by the SCAN's spelling: __fk strips file:/ but keeps
            # percent-encoding, while add paths are decoded
            map_rows.append((_scan_spelling(local), *vals))
        map_schema = T.StructType(
            [T.StructField("__fk", T.StringType())]
            + [T.StructField(f"__pv_{c}", T.StringType()) for c in part_cols]
        )
        from simple_data_workflow_spark.smalldf import small_df

        mapdf = small_df(spark, map_rows, map_schema)
        snap = snap.withColumn(
            "__fk", F.regexp_replace(F.col("__file"), "^file:/+", "/")
        )
        snap = snap.join(F.broadcast(mapdf), "__fk").select(
            *lead,
            *[f.name for f in data_fields],
            *[F.col(f"__pv_{c}").cast(types[c]).alias(c) for c in part_cols],
        )
    snap = snap.select(*lead, *[f.name for f in schema.fields])
    return {
        "snap": snap,
        "files": files,
        "dvs": dvs,
        "dv_positions": dv_positions,
        "schema": schema,
        "part_cols": part_cols,
        "meta": meta,
        "proto": proto,
        "cur_v": cur_v,
        "adds_now": adds_now,
        "mapped": mapped,
        "id_mode": id_mode,
    }


def _phys_with_ids(dt, operation: str):
    """The id-mode STAGING type: physical names AND
    ``parquet.field.id`` metadata at every nesting level. A cast to
    this type carries the nested metadata into the written footers
    (the positional-cast rename the name-mode path already uses —
    nested alias metadata cannot, it is top-level only)."""
    from pyspark.sql import types as T

    from simple_data_workflow_spark.sources.delta_reader import (
        _ID_KEY,
        _physical_name,
    )

    if isinstance(dt, T.StructType):
        out = []
        for f in dt.fields:
            fid = (f.metadata or {}).get(_ID_KEY)
            if fid is None:
                raise NotImplementedError(
                    f"{operation} on id-mapped table: field {f.name!r} "
                    "has no delta.columnMapping.id — by-id resolution "
                    "of the staged files would be impossible"
                )
            out.append(
                T.StructField(
                    _physical_name(f),
                    _phys_with_ids(f.dataType, operation),
                    f.nullable,
                    {"parquet.field.id": int(fid)},
                )
            )
        return T.StructType(out)
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(
            _phys_with_ids(dt.elementType, operation), dt.containsNull
        )
    if isinstance(dt, T.MapType):
        return T.MapType(
            _phys_with_ids(dt.keyType, operation),
            _phys_with_ids(dt.valueType, operation),
            dt.valueContainsNull,
        )
    return dt


def _stage_physical(
    spark: SparkSession, path: str, df, view: dict, operation: str
) -> list[dict]:
    """Stage ``df`` (the table's LOGICAL schema, partition columns
    included) as table data files: column-mapped tables stage under
    PHYSICAL names at every nesting level via the positional-cast
    rename; id mode also stamps ``parquet.field.id`` at every nesting
    level (the cast target type carries nested metadata into the
    footers), so staged files look exactly like the table's original
    data files. Returns the add-action dicts."""
    from pyspark.sql import functions as F

    from simple_data_workflow_spark.sources.delta_reader import (
        _ID_KEY,
        _physical_name,
        _physicalize,
    )

    # CHECK constraints gate every DML-staged row (UPDATE/MERGE can
    # introduce violations; rewritten-but-unchanged rows re-pass by
    # the invariant ADD CONSTRAINT validated)
    df = _enforce_constraints(df, view.get("meta"), operation)
    schema, part_cols = view["schema"], view["part_cols"]
    if view["mapped"] or view["id_mode"]:
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        cols = []
        for f in schema.fields:
            if view["id_mode"]:
                fid = (f.metadata or {}).get(_ID_KEY)
                if fid is None:
                    raise NotImplementedError(
                        f"{operation} on id-mapped table: column "
                        f"{f.name!r} has no delta.columnMapping.id"
                    )
                cols.append(
                    F.col(f.name)
                    .cast(_phys_with_ids(f.dataType, operation))
                    .alias(
                        _physical_name(f),
                        metadata={"parquet.field.id": int(fid)},
                    )
                )
            else:
                cols.append(
                    F.col(f.name)
                    .cast(_physicalize(f.dataType))
                    .alias(_physical_name(f))
                )
        df = df.select(*cols)
        stage_parts = [
            _physical_name(f) for f in schema.fields if f.name in part_cols
        ]
    else:
        stage_parts = list(part_cols)
    return _stage_data_files(df, path, stage_parts)


def _cdf_enabled(meta: dict | None) -> bool:
    """Table property ``delta.enableChangeDataFeed`` (CDF writes are
    gated on it, like Delta's own writers)."""
    return (
        str(
            ((meta or {}).get("configuration") or {}).get(
                "delta.enableChangeDataFeed", "false"
            )
        ).lower()
        == "true"
    )


def _stage_change_files(
    spark: SparkSession, path: str, view: dict, changes, operation: str
) -> list[dict]:
    """Stage CHANGE DATA FEED files under ``_change_data/`` for a DML
    commit: ``changes`` carries the table's logical columns plus
    ``_change_type`` (insert / delete / update_preimage /
    update_postimage — PROTOCOL.md §Change Data Files). Data columns
    physicalize exactly like table files (name-mode column mapping);
    ``_change_type`` stores verbatim. Returns the ``cdc`` action dicts
    (``dataChange=false`` — streaming tailers of the MAIN table skip
    them; the CDF reader targets them)."""
    from pyspark.sql import functions as F

    from simple_data_workflow_spark.sources.delta_reader import (
        _physical_name,
        _physicalize,
    )

    schema, part_cols = view["schema"], view["part_cols"]
    if view["id_mode"]:
        # id-mapped tables: change files store data columns exactly
        # like data files — PHYSICAL names + parquet.field.id at every
        # nesting level — plus a by-name `_change_type` (round 13,
        # VERDICT r12 #3: CDF x column-mapping both modes)
        from simple_data_workflow_spark.sources.delta_reader import (
            _ID_KEY,
        )

        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        cols = []
        for f in schema.fields:
            fid = (f.metadata or {}).get(_ID_KEY)
            if fid is None:
                raise NotImplementedError(
                    f"{operation}: column {f.name!r} has no "
                    "delta.columnMapping.id"
                )
            cols.append(
                F.col(f.name)
                .cast(_phys_with_ids(f.dataType, operation))
                .alias(
                    _physical_name(f),
                    metadata={"parquet.field.id": int(fid)},
                )
            )
        changes = changes.select(*cols, "_change_type")
        stage_parts = [
            _physical_name(f) for f in schema.fields if f.name in part_cols
        ]
    elif view["mapped"]:
        cols = [
            F.col(f.name)
            .cast(_physicalize(f.dataType))
            .alias(_physical_name(f))
            for f in schema.fields
        ]
        changes = changes.select(*cols, "_change_type")
        stage_parts = [
            _physical_name(f) for f in schema.fields if f.name in part_cols
        ]
    else:
        changes = changes.select(
            *[f.name for f in schema.fields], "_change_type"
        )
        stage_parts = list(part_cols)
    staged = _stage_data_files(changes, f"{path}/_change_data", stage_parts)
    return [
        {
            "path": "_change_data/" + a["path"],
            "partitionValues": a["partitionValues"],
            "size": a["size"],
            "dataChange": False,
        }
        for a in staged
    ]


def delta_set_properties(
    spark: SparkSession, path: str, props: dict, _retries: int = 5
) -> int:
    """ALTER TABLE SET TBLPROPERTIES, jar-free: republish metaData with
    the merged configuration in one commit. Enabling
    ``delta.enableChangeDataFeed`` also upgrades the protocol with the
    ``changeDataFeed`` writer feature (legacy tables bump
    minWriterVersion to 4, feature-tables add the flag) — the spec's
    gate for writing ``cdc`` actions."""
    for attempt in range(_retries):
        adds, meta, proto, cur_v, _t = _replay_full(spark, path)
        if meta is None:
            raise ValueError(f"no Delta table at {path}")
        _check_writer_allowed(proto, meta, "SET TBLPROPERTIES")
        conf = dict(meta.get("configuration") or {})
        conf.update({k: str(v) for k, v in props.items()})
        now = int(time.time() * 1000)
        lines = [
            json.dumps(
                {
                    "commitInfo": {
                        "timestamp": now,
                        "operation": "SET TBLPROPERTIES",
                        "operationParameters": {
                            "properties": json.dumps(
                                {k: str(v) for k, v in props.items()}
                            )
                        },
                        "engineInfo": "simple-data-workflow-spark delta_writer",
                    }
                }
            )
        ]
        if _cdf_enabled({"configuration": conf}):
            proto = proto or {"minReaderVersion": 1, "minWriterVersion": 2}
            wfeats = proto.get("writerFeatures")
            if wfeats is not None:
                if "changeDataFeed" not in wfeats:
                    new_proto = dict(proto)
                    new_proto["writerFeatures"] = sorted(
                        set(wfeats) | {"changeDataFeed"}
                    )
                    lines.append(json.dumps({"protocol": new_proto}))
            elif int(proto.get("minWriterVersion", 2)) < 4:
                new_proto = dict(proto)
                new_proto["minWriterVersion"] = 4
                lines.append(json.dumps({"protocol": new_proto}))
        meta_out = dict(meta)
        meta_out["configuration"] = conf
        lines.append(json.dumps({"metaData": meta_out}))
        version = cur_v + 1
        if _publish_if_absent(
            spark, path, f"{version:020d}.json", "\n".join(lines) + "\n"
        ):
            return version
    raise DeltaConcurrentWrite(
        f"SET TBLPROPERTIES on {path} lost the commit race {_retries} times"
    )


def delta_add_constraint(
    spark: SparkSession, path: str, name: str, expr: str, _retries: int = 5
) -> int:
    """ALTER TABLE ADD CONSTRAINT <name> CHECK (<expr>), jar-free:
    validates the EXISTING rows first (Delta refuses to add a
    constraint the current table violates), then publishes metaData
    with ``delta.constraints.<name> = expr`` and upgrades the protocol
    (legacy tables bump minWriterVersion to 3 — the spec's CHECK
    constraints gate; feature tables add ``checkConstraints``). Every
    subsequent append/overwrite/UPDATE/MERGE enforces the constraint
    (violation = expression FALSE or NULL, Delta's rule) and raises
    ``DeltaConstraintViolation`` instead of committing."""
    from simple_data_workflow_spark.sources.delta_reader import delta_read

    name = name.lower()  # Delta lowercases constraint names
    key = f"delta.constraints.{name}"
    for attempt in range(_retries):
        adds, meta, proto, cur_v, _t = _replay_full(spark, path)
        if meta is None:
            raise ValueError(f"no Delta table at {path}")
        _check_writer_allowed(proto, meta, "ADD CONSTRAINT")
        conf = dict(meta.get("configuration") or {})
        if key in conf:
            raise ValueError(
                f"constraint {name!r} already exists: CHECK ({conf[key]})"
            )
        # current rows must satisfy the new constraint (reader applies
        # DVs + column mapping, so `expr` sees logical columns)
        _enforce_constraints(
            delta_read(spark, path),
            {"configuration": {key: expr}},
            f"ADD CONSTRAINT {name}",
        )
        now = int(time.time() * 1000)
        lines = [
            json.dumps(
                {
                    "commitInfo": {
                        "timestamp": now,
                        "operation": "ADD CONSTRAINT",
                        "operationParameters": {"name": name, "expr": expr},
                        "engineInfo": "simple-data-workflow-spark delta_writer",
                    }
                }
            )
        ]
        proto = proto or {"minReaderVersion": 1, "minWriterVersion": 2}
        wfeats = proto.get("writerFeatures")
        if wfeats is not None:
            if "checkConstraints" not in wfeats:
                new_proto = dict(proto)
                new_proto["writerFeatures"] = sorted(
                    set(wfeats) | {"checkConstraints"}
                )
                lines.append(json.dumps({"protocol": new_proto}))
        elif int(proto.get("minWriterVersion", 2)) < 3:
            new_proto = dict(proto)
            new_proto["minWriterVersion"] = 3
            lines.append(json.dumps({"protocol": new_proto}))
        conf[key] = expr
        meta_out = dict(meta)
        meta_out["configuration"] = conf
        lines.append(json.dumps({"metaData": meta_out}))
        version = cur_v + 1
        if _publish_if_absent(
            spark, path, f"{version:020d}.json", "\n".join(lines) + "\n"
        ):
            return version
    raise DeltaConcurrentWrite(
        f"ADD CONSTRAINT on {path} lost the commit race {_retries} times"
    )


def delta_drop_constraint(
    spark: SparkSession, path: str, name: str, _retries: int = 5
) -> int:
    """ALTER TABLE DROP CONSTRAINT, jar-free: republish metaData
    without ``delta.constraints.<name>``."""
    name = name.lower()
    key = f"delta.constraints.{name}"
    for attempt in range(_retries):
        adds, meta, _proto, cur_v, _t = _replay_full(spark, path)
        if meta is None:
            raise ValueError(f"no Delta table at {path}")
        conf = dict(meta.get("configuration") or {})
        if key not in conf:
            raise ValueError(f"no constraint named {name!r}")
        del conf[key]
        now = int(time.time() * 1000)
        lines = [
            json.dumps(
                {
                    "commitInfo": {
                        "timestamp": now,
                        "operation": "DROP CONSTRAINT",
                        "operationParameters": {"name": name},
                        "engineInfo": "simple-data-workflow-spark delta_writer",
                    }
                }
            ),
        ]
        meta_out = dict(meta)
        meta_out["configuration"] = conf
        lines.append(json.dumps({"metaData": meta_out}))
        version = cur_v + 1
        if _publish_if_absent(
            spark, path, f"{version:020d}.json", "\n".join(lines) + "\n"
        ):
            return version
    raise DeltaConcurrentWrite(
        f"DROP CONSTRAINT on {path} lost the commit race {_retries} times"
    )


def _mutate_schema(spark, path, operation: str, params: dict, mutate, _retries=5):
    """CAS loop for metadata-only schema DDL: ``mutate(schema_dict,
    meta)`` edits the parsed schemaString in place (or raises); one
    commit republishes metaData."""
    for _attempt in range(_retries):
        adds, meta, proto, cur_v, _t = _replay_full(spark, path)
        if meta is None:
            raise ValueError(f"no Delta table at {path}")
        _check_writer_allowed(proto, meta, operation)
        schema = json.loads(meta["schemaString"])
        mutate(schema, meta)
        meta_out = dict(meta)
        meta_out["schemaString"] = json.dumps(schema)
        lines = [
            json.dumps(
                {
                    "commitInfo": {
                        "timestamp": int(time.time() * 1000),
                        "operation": operation,
                        "operationParameters": params,
                        "engineInfo": "simple-data-workflow-spark delta_writer",
                    }
                }
            ),
            json.dumps({"metaData": meta_out}),
        ]
        version = cur_v + 1
        if _publish_if_absent(
            spark, path, f"{version:020d}.json", "\n".join(lines) + "\n"
        ):
            return version
    raise DeltaConcurrentWrite(
        f"{operation} on {path} lost the commit race {_retries} times"
    )


def _walk_assign_mapping(fields: list, next_id: list) -> None:
    """Assign ``delta.columnMapping.{id,physicalName}`` recursively —
    existing columns keep their CURRENT name as physicalName (pre-
    mapping data files store that name, so they stay readable), per
    Delta's own upgrade rule."""
    for f in fields:
        md = dict(f.get("metadata") or {})
        if "delta.columnMapping.id" not in md:
            next_id[0] += 1
            md["delta.columnMapping.id"] = next_id[0]
            md["delta.columnMapping.physicalName"] = f["name"]
            f["metadata"] = md
        t = f.get("type")
        while isinstance(t, dict):
            if t.get("type") == "struct":
                _walk_assign_mapping(t.get("fields") or [], next_id)
                break
            if t.get("type") == "array":
                t = t.get("elementType")
            elif t.get("type") == "map":
                # map values may be structs; keys are primitives here
                t = t.get("valueType")
            else:
                break


def delta_enable_column_mapping(
    spark: SparkSession, path: str, mode: str = "name"
) -> int:
    """Upgrade a plain table to COLUMN MAPPING (the gate for
    RENAME/DROP COLUMN): every field gets a mapping id and a
    physicalName equal to its CURRENT name — pre-mapping data files
    remain readable — and the protocol upgrades (legacy → reader 2 /
    writer 5; feature tables add ``columnMapping``). ``mode`` is
    ``name`` (the common upgrade) — ``id`` mode is only assigned at
    table creation by real engines, so upgrading into it refuses."""
    if mode != "name":
        raise ValueError(
            "only 'name' mode upgrades are supported (id mode must be "
            "set at table creation)"
        )
    for _attempt in range(5):
        adds, meta, proto, cur_v, _t = _replay_full(spark, path)
        if meta is None:
            raise ValueError(f"no Delta table at {path}")
        _check_writer_allowed(proto, meta, "ENABLE COLUMN MAPPING")
        conf = dict(meta.get("configuration") or {})
        cur_mode = conf.get("delta.columnMapping.mode", "none")
        if cur_mode == "name":
            return cur_v  # already enabled: no-op
        if cur_mode not in ("", "none"):
            raise ValueError(
                f"table already uses column mapping mode {cur_mode!r}"
            )
        schema = json.loads(meta["schemaString"])
        next_id = [int(conf.get("delta.columnMapping.maxColumnId") or 0)]
        _walk_assign_mapping(schema.get("fields") or [], next_id)
        conf["delta.columnMapping.mode"] = "name"
        conf["delta.columnMapping.maxColumnId"] = str(next_id[0])
        meta_out = dict(meta)
        meta_out["schemaString"] = json.dumps(schema)
        meta_out["configuration"] = conf
        now = int(time.time() * 1000)
        lines = [
            json.dumps(
                {
                    "commitInfo": {
                        "timestamp": now,
                        "operation": "SET TBLPROPERTIES",
                        "operationParameters": {
                            "properties": json.dumps(
                                {"delta.columnMapping.mode": "name"}
                            )
                        },
                        "engineInfo": "simple-data-workflow-spark delta_writer",
                    }
                }
            )
        ]
        proto = proto or {"minReaderVersion": 1, "minWriterVersion": 2}
        rfeats = proto.get("readerFeatures")
        if rfeats is not None:
            if "columnMapping" not in rfeats:
                new_proto = dict(proto)
                new_proto["readerFeatures"] = sorted(
                    set(rfeats) | {"columnMapping"}
                )
                new_proto["writerFeatures"] = sorted(
                    set(proto.get("writerFeatures") or []) | {"columnMapping"}
                )
                lines.append(json.dumps({"protocol": new_proto}))
        elif (
            int(proto.get("minReaderVersion", 1)) < 2
            or int(proto.get("minWriterVersion", 2)) < 5
        ):
            new_proto = dict(proto)
            new_proto["minReaderVersion"] = max(
                2, int(proto.get("minReaderVersion", 1))
            )
            new_proto["minWriterVersion"] = max(
                5, int(proto.get("minWriterVersion", 2))
            )
            lines.append(json.dumps({"protocol": new_proto}))
        lines.append(json.dumps({"metaData": meta_out}))
        version = cur_v + 1
        if _publish_if_absent(
            spark, path, f"{version:020d}.json", "\n".join(lines) + "\n"
        ):
            return version
    raise DeltaConcurrentWrite(
        f"column-mapping upgrade on {path} lost the commit race"
    )


def _constraint_mentions(meta: dict, col: str) -> list[str]:
    import re as _re

    pat = _re.compile(rf"\b{_re.escape(col)}\b", _re.IGNORECASE)
    return sorted(
        name
        for name, expr in _table_constraints(meta).items()
        if pat.search(expr)
    )


def delta_rename_column(
    spark: SparkSession, path: str, old: str, new: str
) -> int:
    """ALTER TABLE RENAME COLUMN (top-level), metadata-only — requires
    column mapping (the physicalName keeps pointing at the data files'
    on-disk column, so nothing rewrites). Refuses when a CHECK
    constraint references the column (renaming under it would break
    enforcement — Delta's own rule)."""

    def mutate(schema, meta):
        mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        if mode in ("", "none"):
            raise ValueError(
                "RENAME COLUMN needs column mapping — run "
                "delta_enable_column_mapping first"
            )
        names = [f["name"] for f in schema["fields"]]
        if old not in names:
            raise ValueError(f"no column {old!r} (have {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        used = _constraint_mentions(meta, old)
        if used:
            raise ValueError(
                f"column {old!r} is referenced by CHECK constraint(s) "
                f"{used} — drop them first"
            )
        for f in schema["fields"]:
            if f["name"] == old:
                f["name"] = new
        if old in (meta.get("partitionColumns") or []):
            meta["partitionColumns"] = [
                new if c == old else c for c in meta["partitionColumns"]
            ]

    return _mutate_schema(
        spark, path, "RENAME COLUMN", {"from": old, "to": new}, mutate
    )


def delta_drop_column(spark: SparkSession, path: str, name: str) -> int:
    """ALTER TABLE DROP COLUMN (top-level), metadata-only — requires
    column mapping (the data stays in the files, unread). Refuses for
    partition columns and constraint-referenced columns."""

    def mutate(schema, meta):
        mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        if mode in ("", "none"):
            raise ValueError(
                "DROP COLUMN needs column mapping — run "
                "delta_enable_column_mapping first"
            )
        names = [f["name"] for f in schema["fields"]]
        if name not in names:
            raise ValueError(f"no column {name!r} (have {names})")
        if len(names) == 1:
            raise ValueError("cannot drop the table's only column")
        if name in (meta.get("partitionColumns") or []):
            raise ValueError(f"cannot drop partition column {name!r}")
        used = _constraint_mentions(meta, name)
        if used:
            raise ValueError(
                f"column {name!r} is referenced by CHECK constraint(s) "
                f"{used} — drop them first"
            )
        schema["fields"] = [f for f in schema["fields"] if f["name"] != name]

    return _mutate_schema(spark, path, "DROP COLUMN", {"name": name}, mutate)


def delta_add_column(
    spark: SparkSession, path: str, name: str, sql_type: str
) -> int:
    """ALTER TABLE ADD COLUMN (top-level, nullable), metadata-only:
    rows in existing files read NULL. On a column-mapped table the new
    field gets a fresh mapping id and a uuid physicalName (so a later
    rename never collides with on-disk names); plain tables just
    append the field."""
    from pyspark.sql.types import _parse_datatype_string

    dt = _parse_datatype_string(sql_type)

    def mutate(schema, meta):
        names = [f["name"] for f in schema["fields"]]
        if name in names:
            raise ValueError(f"column {name!r} already exists")
        # dt.json() IS the Delta schemaString spelling for any type
        # ('"long"' for primitives, nested dicts for complex types)
        field = {
            "name": name,
            "type": json.loads(dt.json()),
            "nullable": True,
            "metadata": {},
        }
        conf = dict(meta.get("configuration") or {})
        mode = conf.get("delta.columnMapping.mode", "none")
        if mode not in ("", "none"):
            next_id = int(conf.get("delta.columnMapping.maxColumnId") or 0) + 1
            field["metadata"] = {
                "delta.columnMapping.id": next_id,
                "delta.columnMapping.physicalName": f"col-{uuid.uuid4()}",
            }
            conf["delta.columnMapping.maxColumnId"] = str(next_id)
            meta["configuration"] = conf
        schema["fields"].append(field)

    return _mutate_schema(
        spark, path, "ADD COLUMN", {"name": name, "type": sql_type}, mutate
    )


def delta_clone(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """SHALLOW CLONE, jar-free (Delta's ``CREATE TABLE ... SHALLOW
    CLONE src [VERSION AS OF v]``): a NEW table whose version-0 commit
    references the source snapshot's data files by ABSOLUTE path — no
    data copies, metadata-sized cost. The clone gets its own table id
    and log; schema, partitioning, configuration (constraints, CDF,
    column mapping) and protocol copy verbatim; deletion-vector
    descriptors re-anchor as ``storageType "p"`` (absolute) so the
    clone's reads mask exactly the source's dead rows. Writes and DML
    on the clone diverge freely — and ``delta_vacuum`` on the clone
    can never reap source data (it only walks the clone's own root;
    the referenced files live outside it, the same containment real
    Delta relies on)."""
    from simple_data_workflow_spark.sources.delta_dv import dv_uuid_path
    from simple_data_workflow_spark.sources.delta_reader import (
        delta_version_at_timestamp,
    )

    if timestamp_ms is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp_ms, not both")
        version = delta_version_at_timestamp(spark, src_path, timestamp_ms)
    adds, meta, proto, src_v, _txns = _replay_full(spark, src_path, version)
    if meta is None:
        raise ValueError(f"no Delta table at {src_path}")
    try:
        _replay_full(spark, dst_path)
        raise ValueError(f"Delta table already exists at {dst_path}")
    except FileNotFoundError:
        pass

    # adds are absolute under the source root: scheme and authority
    # kept on other filesystems, a plain path (no ``file:``) locally
    src_root = tablefs.qualified_root(spark, src_path)
    now = int(time.time() * 1000)
    lines = [
        json.dumps(
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "CLONE",
                    "operationParameters": {
                        "source": src_path,
                        "sourceVersion": src_v,
                    },
                    "engineInfo": "simple-data-workflow-spark delta_writer",
                }
            }
        ),
        json.dumps(
            {"protocol": proto or {"minReaderVersion": 1, "minWriterVersion": 2}}
        ),
    ]
    meta_out = dict(meta)
    meta_out["id"] = str(uuid.uuid4())
    meta_out["createdTime"] = now
    lines.append(json.dumps({"metaData": meta_out}))
    for rel in sorted(adds):
        a = dict(adds[rel])
        full = _full_path(src_root, rel)
        if "://" in full:
            # scheme'd absolute URI (cross-store source, clone-of-clone):
            # percent-encode ONLY the path component — quoting the whole
            # URI would encode ':' and break the add path (ADVICE r12)
            head, _, tail = full.partition("://")
            netloc, slash, rest = tail.partition("/")
            a["path"] = f"{head}://{netloc}{slash}{urllib.parse.quote(rest)}"
        elif full.startswith("file:"):
            a["path"] = f"file:{urllib.parse.quote(full[5:])}"
        else:
            a["path"] = urllib.parse.quote(full)
        a["dataChange"] = True
        a["modificationTime"] = int(a.get("modificationTime") or now)
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            a["deletionVector"] = {
                **dv,
                "storageType": "p",
                "pathOrInlineDv": dv_uuid_path(
                    src_root, dv["pathOrInlineDv"]
                ),
            }
        lines.append(json.dumps({"add": a}))
    if not _publish_if_absent(
        spark, dst_path, f"{0:020d}.json", "\n".join(lines) + "\n"
    ):
        raise DeltaConcurrentWrite(
            f"another writer created a Delta table at {dst_path}"
        )
    return 0


def _dml_rewrite(
    spark: SparkSession,
    path: str,
    predicate: str | None,
    transform,
    operation: str,
    hit_fn=None,
    extra_rows_fn=None,
    _hits0: tuple | None = None,
    _view0: dict | None = None,
    _retries: int = 5,
    cdc_fn=None,
) -> int:
    """Shared CoW DML engine: find the files that contain matches
    (one scan with ``_metadata.file_path`` — unaffected files never
    rewrite), rewrite ONLY those files with ``transform`` applied to
    their rows, and publish remove+add in ONE atomic commit. Write
    volume ∝ affected files, not table size; unaffected files are
    byte-identical and stay referenced. ``hit_fn(snap)`` overrides the
    predicate for join-shaped matching (MERGE); ``extra_rows_fn(cols)``
    appends new rows (MERGE inserts) in the SAME atomic commit.

    The snapshot view is ONE scan regardless of partition count:
    partition values inject through a broadcast join against a
    metadata-sized (file → partition values) mapping, so the plan stays
    O(1) in the number of partition values a predicate touches (the
    pre-r11 per-partition-group union grew one plan leg per value).

    Column-mapped tables rewrite with PHYSICAL names (name mode at
    every nesting level via the positional-cast rename; id mode also
    stamps ``parquet.field.id`` — nested id-mode structs refuse, the
    alias metadata channel is top-level only). Tables with deletion
    vectors rewrite from the DV-MASKED row view — the affected file's
    remove drops its DV with it, so deleted rows stay deleted."""
    import urllib.parse as _up

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from simple_data_workflow_spark.sources.delta_reader import (
        _ID_KEY,
        _physical_name,
        _physicalize,
    )

    for attempt in range(_retries):
        view = (
            _view0
            if attempt == 0 and _view0 is not None
            else _snapshot_view(spark, path, operation)
        )
        if view is None:
            _adds, _m, _p, cur_v, _t = _replay_full(spark, path)
            return cur_v  # empty table: nothing to do
        snap = view["snap"]
        files, schema, part_cols = (
            view["files"],
            view["schema"],
            view["part_cols"],
        )
        cur_v, adds_now = view["cur_v"], view["adds_now"]
        mapped, id_mode = view["mapped"], view["id_mode"]

        if (
            attempt == 0
            and _hits0 is not None
            and _hits0[0] == cur_v
        ):
            # the caller (delta_delete's auto-strategy probe) already
            # ran the hit scan against THIS version's snapshot — reuse
            # it instead of paying a second full scan (the version
            # guard rejects a probe made stale by a concurrent commit;
            # retries always re-resolve)
            hit = _hits0[1]
        else:
            hit_df = (
                hit_fn(snap) if hit_fn is not None else snap.where(predicate)
            )
            hit = hit_df.select("__file").distinct().collect()
        from simple_data_workflow_spark.sources.delta_reader import (
            _cmp_path as _cmp,
        )
        from simple_data_workflow_spark.sources.delta_reader import (
            _strip_scheme as _strip,
        )

        norm = {_strip(f): f for f in files}
        affected = []
        for r in hit:
            local = _cmp(r["__file"])
            if local in norm:
                affected.append(norm[local])
        if not affected and extra_rows_fn is None:
            return cur_v  # no matches anywhere: metadata no-op
        aff_set = set(affected)

        if affected:
            # rows of the affected files ONLY (the hit values are drawn
            # from snap.__file itself, so representation matches exactly)
            remainder = snap.where(
                F.col("__file").isin(*sorted({r["__file"] for r in hit}))
            )
            rewritten = transform(remainder.drop("__file"), predicate)
        else:
            rewritten = snap.drop("__file").limit(0)
        if extra_rows_fn is not None:
            extra = extra_rows_fn([f.name for f in schema.fields])
            rewritten = rewritten.unionByName(extra)
        staged = _stage_physical(spark, path, rewritten, view, operation)
        cdc_actions: list[dict] = []
        if cdc_fn is not None and _cdf_enabled(view["meta"]):
            cdf = cdc_fn(snap)
            if cdf is not None:
                cdc_actions = _stage_change_files(
                    spark, path, view, cdf, operation
                )

        now = int(time.time() * 1000)
        rel_by_full = {}
        for rel in adds_now:
            rel_by_full[_full_path(path, rel)] = rel
        lines = [
            json.dumps(
                {
                    "commitInfo": {
                        "timestamp": now,
                        "operation": operation,
                        "operationParameters": {"predicate": predicate},
                        "engineInfo": "simple-data-workflow-spark delta_writer",
                    }
                }
            )
        ]
        for f in sorted(aff_set):
            rel = rel_by_full.get(f)
            if rel is None:
                continue
            lines.append(
                json.dumps(
                    {
                        "remove": {
                            "path": rel,
                            "deletionTimestamp": now,
                            "dataChange": True,
                        }
                    }
                )
            )
        lines.extend(json.dumps({"add": a}) for a in staged)
        lines.extend(json.dumps({"cdc": c}) for c in cdc_actions)
        version = cur_v + 1
        if _publish_if_absent(
            spark, path, f"{version:020d}.json", "\n".join(lines) + "\n"
        ):
            return version
        # lost the race: the snapshot moved under us — the staged files
        # are orphans (never referenced); re-resolve and redo the DML
        _remove_orphans(spark, path, [*staged, *cdc_actions])
    raise DeltaConcurrentWrite(
        f"{operation} on {path} lost the commit race {_retries} times"
    )


def _dv_dml(
    spark: SparkSession,
    path: str,
    operation: str,
    op_params: dict,
    hit_fn,
    new_rows_fn=None,
    always_commit: bool = False,
    checkpoint_matches: bool = True,
    _retries: int = 5,
    _subset0: tuple | None = None,
    cdc_fn=None,
) -> int:
    """Shared merge-on-read DML engine: DELETION VECTORS mark the rows
    ``hit_fn(snap)`` selects as dead, and ``new_rows_fn(matches, view)``
    rows (logical schema) stage as NEW data files — both published in
    ONE atomic commit, so readers flip from old to new rows atomically
    and cost is ∝ edited rows, never affected-file bytes.

    Driver bytes stay FLAT in matched rows. A metadata-sized per-file
    count probe (one row per affected file) picks the position path:

    - ≤ ``_DV_EXEC_SIDECAR_MIN`` matched rows: positions group
      DISTRIBUTED (``groupBy("__file").agg(collect_list)``) and come
      off the cluster as ONE packed Arrow transfer — int64 positions,
      the path string once per file, never per row — then ONE shared
      roaring sidecar writes driver-side (the same packed shape as
      ``iceberg_reader._scan_with_position_deletes``).
    - above it: each affected file's EXECUTOR unions its new positions
      with the file's existing DV (broadcast as compact roaring
      blobs), serializes, and writes its OWN one-blob sidecar via
      ``applyInPandas``; the driver collects one descriptor row per
      file — positions never reach the driver at all.

    Either path publishes remove+add actions that re-add each affected
    file under a ``deletionVector`` descriptor (storageType "u",
    PROTOCOL.md §Deletion Vectors). A DV-writing commit upgrades the
    protocol to readerVersion 3 / writerVersion 7 with the
    ``deletionVectors`` feature when the table does not carry it yet.
    ``always_commit`` forces a commit even with zero matches (MERGE
    must still insert its source rows)."""
    import numpy as np

    from simple_data_workflow_spark.sources.delta_dv import (
        dv_file_bytes,
        dv_serialize,
        dv_uuid_path,
        z85_encode,
    )

    for attempt in range(_retries):
        view = None
        if attempt == 0 and _subset0 is not None and _subset0[1]:
            # the caller's hit probe already proved (at _subset0[0])
            # that matches live ONLY in these files — scan just them;
            # a concurrent commit invalidates the proof (version
            # guard) and we fall back to the full snapshot
            view = _snapshot_view(
                spark,
                path,
                operation,
                row_col="__row",
                files_subset=set(_subset0[1]),
            )
            if view is not None and view["cur_v"] != _subset0[0]:
                view = None
        if view is None:
            view = _snapshot_view(spark, path, operation, row_col="__row")
        if view is None:
            _a, _m, _p, cur_v, _t = _replay_full(spark, path)
            return cur_v
        snap = view["snap"]
        matches = hit_fn(snap)
        if new_rows_fn is not None and checkpoint_matches:
            # the DV positions and the re-inserted rows MUST name the
            # SAME row set — materialize once (executor-resident,
            # size ∝ matched rows). MERGE opts out: its new rows are
            # the (already checkpointed) source, independent of matches
            matches = matches.localCheckpoint()
            hits = matches.select("__file", "__row")
        else:
            # only positions are needed — materialize the NARROW
            # projection so the count probe and the position pack see
            # one consistent row set (one scan, executor-resident,
            # 2 cols × matched rows)
            hits = matches.select("__file", "__row").localCheckpoint()
        import urllib.parse as _up

        from simple_data_workflow_spark.sources.delta_reader import (
            # metadata paths keep their on-disk literal spelling;
            # scan-derived __file values decode exactly once to meet
            # them — raw-string keys silently drop encoded-path files
            _cmp_path as _from_scan,
        )
        from simple_data_workflow_spark.sources.delta_reader import (
            _strip_scheme as _local,
        )

        norm = {_local(f): f for f in view["files"]}
        # metadata-sized probe: ONE row per affected file
        counts = hits.groupBy("__file").count().collect()
        total_matched = sum(
            int(r["count"]) for r in counts if norm.get(_from_scan(r["__file"]))
        )
        if total_matched == 0 and not always_commit:
            return view["cur_v"]

        # stage the new rows BEFORE the sidecar so a new_rows_fn error
        # leaves nothing behind
        staged: list[dict] = []
        if new_rows_fn is not None:
            staged = _stage_physical(
                spark,
                path,
                new_rows_fn(matches.drop("__file", "__row"), view),
                view,
                operation,
            )
        cdc_actions: list[dict] = []
        if cdc_fn is not None and _cdf_enabled(view["meta"]):
            cdf = cdc_fn(matches.drop("__file", "__row"), view)
            if cdf is not None:
                cdc_actions = _stage_change_files(
                    spark, path, view, cdf, operation
                )

        from pyspark.sql import functions as F

        sidecars: list[str] = []
        dv_descs: dict[str, dict] = {}  # full data-file path → descriptor
        exec_side = total_matched > _dv_exec_sidecar_min(spark)
        if exec_side:
            # EXECUTOR-SIDE sidecars: each affected file's worker
            # unions its new positions with the file's existing DV
            # (broadcast as compact roaring blobs — model-sized),
            # serializes, and writes its OWN one-blob sidecar; the
            # driver collects ONE descriptor row per file. Positions
            # never reach the driver — flat driver bytes at any
            # matched-row count. Workers write through ``pyarrow.fs``
            # (round 13, VERDICT r12 #2), so object-store roots take
            # this path too instead of falling back to the packed
            # driver transfer — the gate is format capability, not
            # path scheme.
            old_blobs = {
                _local(f): dv_serialize(arr)
                for f, arr in view["dv_positions"].items()
                if len(arr)
            }
            bc_old = spark.sparkContext.broadcast(old_blobs)
            _dv_root = path  # scheme'd roots write via pyarrow.fs

            def _write_sidecar(pdf):
                import uuid as _uuid

                import numpy as _np
                import pandas as _pd

                from simple_data_workflow_spark.sources.delta_dv import (
                    dv_deserialize as _deser,
                )
                from simple_data_workflow_spark.sources.delta_dv import (
                    dv_file_bytes as _fbytes,
                )
                from simple_data_workflow_spark.sources.delta_dv import (
                    dv_serialize as _ser,
                )
                from simple_data_workflow_spark.sources.delta_dv import (
                    dv_uuid_path as _upath,
                )
                from simple_data_workflow_spark.sources.delta_dv import (
                    z85_encode as _z85,
                )

                fp = str(pdf["__file"].iloc[0])
                pr = urllib.parse.unquote(
                    urllib.parse.urlparse(fp).path
                    if ("://" in fp or fp.startswith("file:"))
                    else fp
                )
                pos = _np.unique(pdf["__row"].to_numpy(_np.int64))
                old = bc_old.value.get(pr)
                if old is not None:
                    pos = _np.union1d(pos, _deser(old))
                data, spans = _fbytes([_ser(pos)])
                z = _z85(_uuid.uuid4().bytes)
                target = _upath(_dv_root, z)
                if "://" in target and not target.startswith("file:"):
                    from pyarrow import fs as _pafs

                    _f, _rel = _pafs.FileSystem.from_uri(target)
                    fh = _f.open_output_stream(_rel)
                else:
                    _loc = (
                        urllib.parse.urlparse(target).path
                        if target.startswith("file:")
                        else target
                    )
                    fh = open(_loc, "wb")
                try:
                    fh.write(data)
                finally:
                    fh.close()
                return _pd.DataFrame(
                    [
                        {
                            "file": fp,
                            "z": z,
                            "offset": spans[0][0],
                            "size": spans[0][1],
                            "cardinality": int(len(pos)),
                        }
                    ]
                )

            desc_rows = hits.groupBy("__file").applyInPandas(
                _write_sidecar,
                "file string, z string, offset long, size long,"
                " cardinality long",
            ).collect()
            for r in desc_rows:
                sidecars.append(dv_uuid_path(path, r["z"]))
                full = norm.get(_from_scan(r["file"]))
                if full is None:
                    continue  # defensive — hits came FROM the snapshot
                dv_descs[full] = {
                    "storageType": "u",
                    "pathOrInlineDv": r["z"],
                    "offset": int(r["offset"]),
                    "sizeInBytes": int(r["size"]),
                    "cardinality": int(r["cardinality"]),
                }
        else:
            # PACKED driver transfer: positions group DISTRIBUTED (one
            # row per target file), then ONE Arrow transfer of
            # (path, packed int64 list) — ~8 B/position plus one path
            # string per file — and ONE shared sidecar carries every
            # affected file's bitmap
            tbl = (
                hits.groupBy("__file")
                .agg(F.collect_list("__row").alias("pos_list"))
                .toArrow()
            )
            new_positions: dict[str, np.ndarray] = {}
            for fp, plist in zip(
                tbl.column("__file").to_pylist(), tbl.column("pos_list")
            ):
                full = norm.get(_from_scan(str(fp)))
                if full is None:
                    continue
                pos = plist.values.to_numpy(zero_copy_only=False).astype(
                    np.int64
                )
                old = view["dv_positions"].get(full)
                if old is not None and len(old):
                    pos = np.union1d(pos, np.asarray(old, dtype=np.int64))
                new_positions[full] = np.unique(pos)
            order = sorted(new_positions)
            if order:
                blobs = [dv_serialize(new_positions[f]) for f in order]
                fbytes, spans = dv_file_bytes(blobs)
                z_shared = z85_encode(uuid.uuid4().bytes)
                sc_path = dv_uuid_path(path, z_shared)
                tablefs.write_file(spark, sc_path, fbytes)
                sidecars.append(sc_path)
                for f, span in zip(order, spans):
                    dv_descs[f] = {
                        "storageType": "u",
                        "pathOrInlineDv": z_shared,
                        "offset": span[0],
                        "sizeInBytes": span[1],
                        "cardinality": int(len(new_positions[f])),
                    }

        rel_by_full = {}
        for rel in view["adds_now"]:
            rel_by_full[_full_path(path, rel)] = rel
        now = int(time.time() * 1000)
        lines = [
            json.dumps(
                {
                    "commitInfo": {
                        "timestamp": now,
                        "operation": operation,
                        "operationParameters": dict(op_params),
                        "engineInfo": "simple-data-workflow-spark delta_writer",
                    }
                }
            )
        ]
        proto = view["proto"] or {"minReaderVersion": 1, "minWriterVersion": 2}
        rfeats = set(proto.get("readerFeatures") or [])
        if dv_descs and (
            "deletionVectors" not in rfeats
            or int(proto.get("minReaderVersion", 1)) < 3
        ):
            impl_r, impl_w = _legacy_implied_features(proto)
            rfeats |= impl_r | {"deletionVectors"}
            mode = (view["meta"].get("configuration") or {}).get(
                "delta.columnMapping.mode", "none"
            )
            if mode not in ("", "none"):
                rfeats.add("columnMapping")
            if _cdf_enabled(view["meta"]):
                impl_w.add("changeDataFeed")
            if _table_constraints(view["meta"]):
                impl_w.add("checkConstraints")
            wfeats = impl_w | rfeats
            lines.append(
                json.dumps(
                    {
                        "protocol": {
                            "minReaderVersion": 3,
                            "minWriterVersion": 7,
                            "readerFeatures": sorted(rfeats),
                            "writerFeatures": sorted(wfeats),
                        }
                    }
                )
            )
        for f in sorted(dv_descs):
            rel = rel_by_full.get(f)
            if rel is None:
                continue
            old_add = dict(view["adds_now"][rel])
            old_add["deletionVector"] = dv_descs[f]
            old_add["dataChange"] = True
            old_add["modificationTime"] = now
            lines.append(
                json.dumps(
                    {
                        "remove": {
                            "path": rel,
                            "deletionTimestamp": now,
                            "dataChange": True,
                        }
                    }
                )
            )
            lines.append(json.dumps({"add": old_add}))
        lines.extend(json.dumps({"add": a}) for a in staged)
        lines.extend(json.dumps({"cdc": c}) for c in cdc_actions)
        version = view["cur_v"] + 1
        if _publish_if_absent(
            spark, path, f"{version:020d}.json", "\n".join(lines) + "\n"
        ):
            return version
        # lost the race: the sidecars and staged files are unreferenced
        # orphans — remove them and redo against the new snapshot
        _remove_orphans(spark, path, [*staged, *cdc_actions], sidecars)
    raise DeltaConcurrentWrite(
        f"{operation} on {path} lost the commit race {_retries} times"
    )


def _dv_delete(
    spark: SparkSession,
    path: str,
    predicate: str,
    _retries: int = 5,
    _subset0: tuple | None = None,
) -> int:
    """Merge-on-read DELETE: write DELETION VECTORS instead of
    rewriting files — cost ∝ deleted rows, not affected-file bytes
    (see ``_dv_dml``)."""
    from pyspark.sql import functions as F

    return _dv_dml(
        spark,
        path,
        "DELETE",
        {"predicate": predicate, "strategy": "deletion-vectors"},
        lambda snap: snap.where(predicate),
        _retries=_retries,
        _subset0=_subset0,
        cdc_fn=lambda m, _v: m.withColumn("_change_type", F.lit("delete")),
    )


# auto-strategy DELETE: deletion vectors win when the delete is WIDE
# (many files would rewrite) and SPARSE (few of those files' rows
# actually match — rewriting amplifies); dense deletes rewrite, which
# shrinks the files and keeps scans codegen-pure
_DV_DELETE_FILE_THRESHOLD = 8
_DV_DELETE_MAX_MATCH_FRACTION = 0.2
# auto strategy refuses DVs outright above this ABSOLUTE matched-row
# count — a bitmap carrying 10^8 dead rows per commit means the table
# should shrink (rewrite), not accrete merge-on-read debt
_DV_DELETE_MAX_MATCHED_ROWS = 100_000_000
# _dv_dml position-path switch: at or below this many matched rows the
# positions come to the driver as ONE packed Arrow transfer (~8 B/row);
# above it, executors serialize and write the sidecars themselves and
# the driver sees one descriptor row per file (flat driver bytes).
# None (default) derives the cap from the driver's memory budget
# (heap/4096 rows ≈ heap/512 of packed bytes: 8 GiB driver → 2M rows,
# the previously hardcoded value); tests/deployments may pin a number
# here or via SPARK_GRAFT_DV_DRIVER_POS_CAP.
_DV_EXEC_SIDECAR_MIN = None


def _dv_exec_sidecar_min(spark) -> int:
    if _DV_EXEC_SIDECAR_MIN is not None:
        return _DV_EXEC_SIDECAR_MIN
    import os as _os

    raw = _os.environ.get("SPARK_GRAFT_DV_DRIVER_POS_CAP")
    if raw is not None:
        try:
            return int(raw)
        except ValueError:
            pass
    from simple_data_workflow_spark.session import driver_memory_bytes

    return driver_memory_bytes(spark) // 4096


def _predicate_prune_filters(predicate: str, schema) -> list[tuple]:
    """Extract pyarrow-style ``(col, op, value)`` skipping filters
    IMPLIED by a SQL predicate string, for the DML hit probe's file
    pruning (round 12, VERDICT r11 #2). Only shapes whose truth the
    predicate logically forces are emitted — each top-level AND
    conjunct of the forms ``col op literal``, ``literal op col``,
    ``col IN (...)``, ``col BETWEEN a AND b``, ``col IS [NOT] NULL``;
    P ⇒ conjunct, so a file provably empty of conjunct matches holds
    no P matches. A top-level OR poisons everything (its arms are not
    implied) → []; any conjunct that does not parse (functions,
    arithmetic, nested fields, NOT) is simply skipped. Values type
    through the table schema the same way the read path's
    ``filters=`` values do."""
    import re

    from pyspark.sql import types as T

    s = predicate.strip()

    # --- top-level split on AND, respecting quotes/parens/BETWEEN ---
    def _split_conjuncts(text: str) -> list[str] | None:
        parts, buf, depth, i, n = [], [], 0, 0, len(text)
        between = 0
        while i < n:
            ch = text[i]
            if ch == "'":
                j = i + 1
                while j < n:
                    if text[j] == "'" and j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    if text[j] == "'":
                        break
                    j += 1
                buf.append(text[i : j + 1])
                i = j + 1
                continue
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth = max(0, depth - 1)
            if depth == 0 and (ch.isalpha() or ch == "_"):
                j = i
                while j < n and (text[j].isalnum() or text[j] == "_"):
                    j += 1
                word = text[i:j].upper()
                if word == "OR":
                    return None  # an OR arm is never implied — no pruning
                if word == "BETWEEN":
                    between += 1
                elif word == "AND":
                    if between:
                        between -= 1  # the BETWEEN's own AND
                    else:
                        parts.append("".join(buf))
                        buf = []
                        i = j
                        continue
                buf.append(text[i:j])
                i = j
                continue
            buf.append(ch)
            i += 1
        parts.append("".join(buf))
        return parts

    def _outer_parens(text: str) -> bool:
        if not (text.startswith("(") and text.endswith(")")):
            return False
        depth = 0
        for i, ch in enumerate(text):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i < len(text) - 1:
                    return False
        return depth == 0

    while _outer_parens(s):
        s = s[1:-1].strip()
    conjuncts = _split_conjuncts(s)
    if conjuncts is None:
        return []
    types = {f.name: f.dataType for f in schema.fields}

    def _val(raw: str, col: str):
        raw = raw.strip()
        m = re.match(r"^(?:DATE|TIMESTAMP)\s*'(.*)'$", raw, re.I)
        if m:
            return m.group(1)
        if raw.startswith("'") and raw.endswith("'"):
            return raw[1:-1].replace("''", "'")
        low = raw.lower()
        if low in ("true", "false"):
            return low == "true"
        t = types.get(col)
        try:
            if isinstance(
                t, (T.DoubleType, T.FloatType, T.DecimalType)
            ) or ("." in raw or "e" in low):
                return float(raw)
            return int(raw)
        except ValueError:
            return None  # not a literal we can compare safely

    _ID = r"`?([A-Za-z_][A-Za-z0-9_]*)`?"
    _LIT = r"((?:DATE|TIMESTAMP)\s*'(?:[^']|'')*'|'(?:[^']|'')*'|[-+]?[\w.]+)"
    _OPS = {"=": "==", "==": "==", "!=": "!=", "<>": "!=",
            "<": "<", "<=": "<=", ">": ">", ">=": ">="}
    _FLIP = {"==": "==", "!=": "!=", "<": ">", "<=": ">=",
             ">": "<", ">=": "<="}
    out: list[tuple] = []
    for c in conjuncts:
        c = c.strip()
        while c.startswith("(") and c.endswith(")"):
            inner = _split_conjuncts(c[1:-1])
            if inner is None or len(inner) != 1:
                break
            c = c[1:-1].strip()
        m = re.match(rf"^{_ID}\s*(==|!=|<>|<=|>=|=|<|>)\s*{_LIT}$", c)
        if m and m.group(1) in types:
            v = _val(m.group(3), m.group(1))
            if v is not None:
                out.append((m.group(1), _OPS[m.group(2)], v))
            continue
        m = re.match(rf"^{_LIT}\s*(==|!=|<>|<=|>=|=|<|>)\s*{_ID}$", c)
        if m and m.group(3) in types:
            v = _val(m.group(1), m.group(3))
            if v is not None:
                out.append((m.group(3), _FLIP[_OPS[m.group(2)]], v))
            continue
        m = re.match(rf"^{_ID}\s+IN\s*\((.*)\)$", c, re.I)
        if m and m.group(1) in types:
            vals = [
                _val(x, m.group(1))
                for x in re.split(r",(?=(?:[^']*'[^']*')*[^']*$)", m.group(2))
            ]
            if all(v is not None for v in vals):
                out.append((m.group(1), "in", vals))
            continue
        m = re.match(rf"^{_ID}\s+BETWEEN\s+{_LIT}\s+AND\s+{_LIT}$", c, re.I)
        if m and m.group(1) in types:
            lo, hi = _val(m.group(2), m.group(1)), _val(m.group(3), m.group(1))
            if lo is not None and hi is not None:
                out.append((m.group(1), ">=", lo))
                out.append((m.group(1), "<=", hi))
            continue
        m = re.match(rf"^{_ID}\s+IS\s+NOT\s+NULL$", c, re.I)
        if m and m.group(1) in types:
            out.append((m.group(1), "notnull", None))
            continue
        m = re.match(rf"^{_ID}\s+IS\s+NULL$", c, re.I)
        if m and m.group(1) in types:
            out.append((m.group(1), "isnull", None))
    return out


def _stats_keep_files(
    spark: SparkSession, path: str, predicate: str, view: dict
) -> set | None:
    """Which data files COULD hold a predicate match, from the log's
    per-file min/max/nullCount/partition stats — the exact skipping
    evidence ``delta_read(filters=...)`` uses (``_delta_stats_map`` →
    ``tablelog._stats_prune``). Returns None when the predicate yields
    no safe conjunct filters (no pruning possible); an EMPTY set is a
    proof that no file matches (the DML is a metadata no-op)."""
    pf = _predicate_prune_filters(predicate, view["schema"])
    if not pf:
        return None
    from simple_data_workflow_spark.sources.delta_reader import (
        _delta_stats_map,
    )
    from simple_data_workflow_spark.sources.tablelog import _stats_prune

    smap = _delta_stats_map(
        spark, path, view["cur_v"], view["schema"]
    )
    return set(_stats_prune(smap, sorted(view["files"]), pf))


def _probe_files(view: dict, probe: list) -> set:
    """Map hit-probe rows (``__file`` in scan representation) back to
    the snapshot's full data-file paths — the subset a follow-up DV
    scan needs to touch (metadata-sized: one entry per affected
    file)."""
    from simple_data_workflow_spark.sources.delta_reader import (
        _cmp_path as _from_scan,
    )
    from simple_data_workflow_spark.sources.delta_reader import (
        _strip_scheme as _local,
    )

    norm = {_local(f): f for f in view["files"]}
    out = set()
    for r in probe:
        full = norm.get(_from_scan(str(r["__file"])))
        if full is not None:
            out.add(full)
    return out


def _probe_wants_dv(view: dict, probe: list, path: str) -> bool:
    """The auto-strategy decision from a per-file hit probe
    (``groupBy("__file").count()`` rows): deletion vectors win when the
    edit is WIDE (more than ``_DV_DELETE_FILE_THRESHOLD`` affected
    files) AND SPARSE (matched rows under
    ``_DV_DELETE_MAX_MATCH_FRACTION`` of the affected files' total
    rows, from the log's per-file numRecords stats — metadata only).
    Rewriting many files to edit a few rows each is the scale trap;
    dense edits rewrite so the files actually shrink/stay pure."""
    from simple_data_workflow_spark.sources.delta_reader import (
        _cmp_path as _cmp,
    )
    from simple_data_workflow_spark.sources.delta_reader import (
        _strip_scheme as _strip,
    )

    if len(probe) <= _DV_DELETE_FILE_THRESHOLD:
        return False
    matched = sum(r["count"] for r in probe)
    if matched > _DV_DELETE_MAX_MATCHED_ROWS:
        return False
    rel_by_full = {}
    for rel in view["adds_now"]:
        rel_by_full[_strip(_full_path(path, rel))] = rel
    total = 0
    known = True
    for r in probe:
        local = _cmp(r["__file"])
        rel = rel_by_full.get(local)
        stats = view["adds_now"].get(rel, {}).get("stats") if rel else None
        n = json.loads(stats).get("numRecords") if stats else None
        if n is None:
            known = False
            break
        total += int(n)
    return (not known) or matched < _DV_DELETE_MAX_MATCH_FRACTION * max(
        total, 1
    )


def delta_delete(
    spark: SparkSession,
    path: str,
    predicate: str,
    strategy: str = "auto",
) -> int:
    """DELETE FROM the Delta table WHERE ``predicate``; returns the
    committed version (or the current version when nothing matched — a
    metadata no-op, like Delta).

    ``strategy``:
    - ``"rewrite"`` — jar-free copy-on-write: only files containing
      matches rewrite (their non-matching rows re-stage), published as
      remove+add in one atomic commit.
    - ``"dv"`` — merge-on-read: deletion vectors mark the rows dead
      without touching the data files (cost ∝ deleted rows).
    - ``"auto"`` (default) — one per-file hit probe, then DVs when the
      delete is WIDE (more than ``_DV_DELETE_FILE_THRESHOLD`` files)
      AND SPARSE (matched rows under
      ``_DV_DELETE_MAX_MATCH_FRACTION`` of the affected files' rows,
      from the log's per-file stats) — rewriting many files to drop a
      few rows each is the scale trap; dense deletes rewrite so the
      files actually shrink.

    DELETE removes only rows where the predicate is TRUE: under SQL
    three-valued logic ``NOT (NULL)`` is NULL, so a bare ``NOT (pred)``
    filter would silently drop NULL-predicate rows from rewritten
    files — the keep-filter coalesces NULL to false first."""
    if strategy not in ("auto", "rewrite", "dv"):
        raise ValueError(f"unknown DELETE strategy {strategy!r}")
    if strategy == "dv":
        return _dv_delete(spark, path, predicate)
    hits0 = None
    view = None
    if strategy == "auto":
        view = _snapshot_view(spark, path, "DELETE")
        if view is None:
            _a, _m, _p, cur_v, _t = _replay_full(spark, path)
            return cur_v
        # prune the probe with the log's per-file stats: a file the
        # predicate stats-misses never needs probing (r12, r11 #2)
        probe_view = view
        keep = _stats_keep_files(spark, path, predicate, view)
        if keep is not None:
            if not keep:
                return view["cur_v"]  # stats PROVE zero matches
            if len(keep) < len(view["files"]):
                pruned = _snapshot_view(
                    spark, path, "DELETE", files_subset=keep
                )
                if pruned is not None and pruned["cur_v"] == view["cur_v"]:
                    probe_view = pruned
        probe = (
            probe_view["snap"]
            .where(predicate)
            .groupBy("__file")
            .count()
            .collect()
        )
        if _probe_wants_dv(view, probe, path):
            return _dv_delete(
                spark,
                path,
                predicate,
                _subset0=(view["cur_v"], _probe_files(view, probe)),
            )
        hits0 = (view["cur_v"], [r for r in probe])
    from pyspark.sql import functions as F

    def _cdc_delete(snap):
        return (
            snap.where(f"coalesce(({predicate}), false)")
            .drop("__file")
            .withColumn("_change_type", F.lit("delete"))
        )

    return _dml_rewrite(
        spark,
        path,
        predicate,
        lambda df, pred: df.where(f"NOT coalesce(({pred}), false)"),
        "DELETE",
        _hits0=hits0,
        _view0=view if strategy == "auto" else None,
        cdc_fn=_cdc_delete,
    )


def _dv_update(
    spark: SparkSession,
    path: str,
    set_exprs: dict,
    predicate: str,
    _retries: int = 5,
    _subset0: tuple | None = None,
) -> int:
    """Merge-on-read UPDATE: ONE commit DV-masks the old versions of
    the matching rows and appends new data files carrying their updated
    versions (the shape real Delta runtimes commit on DV-enabled
    tables) — cost ∝ matched rows, untouched files never rewrite."""
    from pyspark.sql import functions as F

    def new_rows(matched, view):
        types = {f.name: f.dataType for f in view["schema"].fields}
        out = matched
        for col, expr in set_exprs.items():
            if col not in types:
                raise ValueError(f"unknown column {col!r} in SET")
            out = out.withColumn(col, F.expr(expr).cast(types[col]))
        return out.select(*[f.name for f in view["schema"].fields])

    def cdc(m, view):
        pre = m.withColumn("_change_type", F.lit("update_preimage"))
        post = new_rows(m, view).withColumn(
            "_change_type", F.lit("update_postimage")
        )
        return pre.unionByName(post)

    return _dv_dml(
        spark,
        path,
        "UPDATE",
        {"predicate": predicate, "strategy": "deletion-vectors"},
        lambda snap: snap.where(predicate),
        new_rows_fn=new_rows,
        _retries=_retries,
        _subset0=_subset0,
        cdc_fn=cdc,
    )


def delta_update(
    spark: SparkSession,
    path: str,
    set_exprs: dict,
    predicate: str,
    strategy: str = "auto",
) -> int:
    """UPDATE the Delta table SET col=expr WHERE ``predicate``.

    ``strategy``:
    - ``"rewrite"`` — jar-free copy-on-write, same rewrite/commit shape
      as ``delta_delete``; non-matching rows in affected files rewrite
      unchanged.
    - ``"dv"`` — merge-on-read: one commit deletion-vector-masks the
      old row versions AND appends files with the updated versions
      (cost ∝ matched rows).
    - ``"auto"`` (default) — one per-file hit probe, then DVs when the
      update is WIDE and SPARSE (``_probe_wants_dv``): rewriting many
      files to touch a few rows each is the scale trap."""
    from pyspark.sql import functions as F

    if strategy not in ("auto", "rewrite", "dv"):
        raise ValueError(f"unknown UPDATE strategy {strategy!r}")
    if strategy == "dv":
        return _dv_update(spark, path, set_exprs, predicate)
    hits0 = None
    view = None
    if strategy == "auto":
        view = _snapshot_view(spark, path, "UPDATE")
        if view is None:
            _a, _m, _p, cur_v, _t = _replay_full(spark, path)
            return cur_v
        probe_view = view
        keep = _stats_keep_files(spark, path, predicate, view)
        if keep is not None:
            if not keep:
                return view["cur_v"]  # stats PROVE zero matches
            if len(keep) < len(view["files"]):
                pruned = _snapshot_view(
                    spark, path, "UPDATE", files_subset=keep
                )
                if pruned is not None and pruned["cur_v"] == view["cur_v"]:
                    probe_view = pruned
        probe = (
            probe_view["snap"]
            .where(predicate)
            .groupBy("__file")
            .count()
            .collect()
        )
        if _probe_wants_dv(view, probe, path):
            return _dv_update(
                spark,
                path,
                set_exprs,
                predicate,
                _subset0=(view["cur_v"], _probe_files(view, probe)),
            )
        hits0 = (view["cur_v"], [r for r in probe])

    def transform(df, pred):
        cond = F.expr(pred)
        out = df
        for col, expr in set_exprs.items():
            if col not in df.columns:
                raise ValueError(f"unknown column {col!r} in SET")
            out = out.withColumn(
                col,
                F.when(cond, F.expr(expr).cast(dict(
                    (f.name, f.dataType) for f in df.schema.fields
                )[col])).otherwise(F.col(col)),
            )
        return out

    def _cdc_update(snap):
        pre = snap.where(f"coalesce(({predicate}), false)").drop("__file")
        types = {f.name: f.dataType for f in pre.schema.fields}
        post = pre
        for col, expr in set_exprs.items():
            post = post.withColumn(col, F.expr(expr).cast(types[col]))
        return pre.withColumn(
            "_change_type", F.lit("update_preimage")
        ).unionByName(
            post.withColumn("_change_type", F.lit("update_postimage"))
        )

    return _dml_rewrite(
        spark,
        path,
        predicate,
        transform,
        "UPDATE",
        _hits0=hits0,
        _view0=view if strategy == "auto" else None,
        cdc_fn=_cdc_update,
    )


def delta_merge_upsert(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: list[str],
    strategy: str = "auto",
) -> int:
    """MERGE INTO the Delta table USING ``source`` ON the key columns —
    jar-free upsert with delete-insert semantics (the deterministic,
    SQL-replayable contract: result = target anti-join source ON keys,
    UNION source). Matched target rows drop, every source row lands,
    and the whole edit publishes as ONE atomic commit, so readers never
    see a half-merged table. A merge into an empty or absent table
    degenerates to create/append. Source schema must match the table by
    name+type.

    ``strategy``: ``"rewrite"`` — copy-on-write (only files containing
    matched keys rewrite); ``"dv"`` — merge-on-read (one commit
    DV-masks the matched target rows and appends the source rows as new
    files, cost ∝ matched + source rows); ``"auto"`` (default) — per-file
    hit probe, DVs when the matched keys are spread WIDE but SPARSE
    across files (the common upsert shape: a trickle of changed keys
    touching every file)."""
    if strategy not in ("auto", "rewrite", "dv"):
        raise ValueError(f"unknown MERGE strategy {strategy!r}")
    try:
        _, meta, _, cur_v, _ = _replay_full(spark, path)
    except FileNotFoundError:
        meta = None
    if meta is None:
        return delta_write(source, path, mode="append")
    table_schema = StructType.fromJson(json.loads(meta["schemaString"]))
    if _schema_types(table_schema) != _schema_types(source.schema):
        raise DeltaSchemaMismatch(
            "merge source schema differs from the table schema "
            f"({_schema_types(table_schema)} vs {_schema_types(source.schema)})"
        )
    missing = [c for c in on if c not in source.columns]
    if missing:
        raise ValueError(f"merge key columns not in source: {missing}")
    cols = [f.name for f in table_schema.fields]
    src = source.select(*cols).localCheckpoint(eager=True)
    keys = src.select(*on).distinct()

    def hit_fn(snap):
        return snap.join(keys, list(on), "left_semi")

    if strategy == "dv":
        if _snapshot_view(spark, path, "MERGE") is None:
            return delta_write(src, path, mode="append")
        return _dv_merge(spark, path, src, on, hit_fn)
    hits0 = None
    view = None
    if strategy == "auto":
        view = _snapshot_view(spark, path, "MERGE")
        if view is None:
            return delta_write(src, path, mode="append")
        probe = hit_fn(view["snap"]).groupBy("__file").count().collect()
        if _probe_wants_dv(view, probe, path):
            return _dv_merge(
                spark,
                path,
                src,
                on,
                hit_fn,
                _subset0=(view["cur_v"], _probe_files(view, probe)),
            )
        hits0 = (view["cur_v"], [r for r in probe])

    def transform(remainder, _pred):
        return remainder.join(keys, list(on), "left_anti")

    def extra_rows_fn(out_cols):
        return src.select(*out_cols)

    from pyspark.sql import functions as F

    def _cdc_merge(snap):
        matched = hit_fn(snap).drop("__file")
        return matched.withColumn(
            "_change_type", F.lit("delete")
        ).unionByName(
            src.select(*matched.columns).withColumn(
                "_change_type", F.lit("insert")
            )
        )

    return _dml_rewrite(
        spark,
        path,
        None,
        transform,
        "MERGE",
        hit_fn=hit_fn,
        extra_rows_fn=extra_rows_fn,
        _hits0=hits0,
        _view0=view if strategy == "auto" else None,
        cdc_fn=_cdc_merge,
    )


def _dv_merge(
    spark: SparkSession,
    path: str,
    src: DataFrame,
    on: list[str],
    hit_fn,
    _retries: int = 5,
    _subset0: tuple | None = None,
) -> int:
    """Merge-on-read MERGE: one commit DV-masks the matched target rows
    and appends every source row as new data files — no data-file
    rewrites, cost ∝ matched + source rows. ``src`` is already
    checkpointed and projected to the table columns by the caller."""
    from pyspark.sql import functions as F

    def cdc(m, view):
        cols = [f.name for f in view["schema"].fields]
        return m.select(*cols).withColumn(
            "_change_type", F.lit("delete")
        ).unionByName(
            src.select(*cols).withColumn("_change_type", F.lit("insert"))
        )

    return _dv_dml(
        spark,
        path,
        "MERGE",
        {"on": list(on), "strategy": "deletion-vectors"},
        hit_fn,
        new_rows_fn=lambda _matched, view: src.select(
            *[f.name for f in view["schema"].fields]
        ),
        always_commit=True,
        checkpoint_matches=False,
        _retries=_retries,
        _subset0=_subset0,
        cdc_fn=cdc,
    )


# ---------------------------------------------------------------------------
# table maintenance (round 11): OPTIMIZE (small-file compaction, DV
# materialization) and VACUUM (unreferenced-file GC) on the public log.
# ---------------------------------------------------------------------------


def delta_optimize(
    spark: SparkSession,
    path: str,
    small_file_bytes: int = 64 * 1024 * 1024,
    zorder_by: list[str] | None = None,
    _retries: int = 5,
) -> int | None:
    """Compact small files: per partition-value group, files under
    ``small_file_bytes`` (when the group has at least two) rewrite as
    coalesced files; deletion vectors on compacted files MATERIALIZE
    (the masked rows rewrite, the DV drops — Delta's own OPTIMIZE
    behavior on DV tables). Published as remove+add with
    ``dataChange=false`` so streaming tailers skip it as the byte-level
    no-op it is. Returns the committed version, or None when nothing
    needed compacting. Untouched files stay byte-identical.

    ``zorder_by=[col, ...]`` is OPTIMIZE ZORDER: EVERY file in every
    partition group rewrites, clustered on a Morton curve over the
    given 2-4 columns (``sinks.morton_code_column`` — pure codegen,
    one range shuffle), so min/max stats stay tight on ALL clustered
    columns and ``delta_read(filters=...)`` prunes on any of them."""
    from pyspark.sql import functions as F

    from simple_data_workflow_spark.sources.delta_reader import (
        _check_protocol,
    )
    from simple_data_workflow_spark.sources.delta_state import (
        replay_snapshot,
    )

    for attempt in range(_retries):
        # ONE Arrow-native replay (round 13); rel/size maps derive
        # column-wise, no per-file add boxing
        snap = replay_snapshot(spark, path)
        _check_protocol(snap.proto, snap.meta)
        meta, proto, cur_v = snap.meta, snap.proto, snap.version
        if meta is None:
            raise ValueError(f"Delta log at {path} has no metaData action")
        # byte-level rewrite (dataChange=false): allowed on append-only
        # tables, still gated on unknown writer features
        _check_writer_allowed(proto, meta, "OPTIMIZE")
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        part_cols = list(meta.get("partitionColumns") or [])
        _fullp = snap.full_paths()
        files = snap.files_dict(_fullp)
        dvs = snap.dv_dict(_fullp)
        mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        # round 13 (VERDICT r12 #3): column-mapped tables compact too —
        # scan physical (name mode) or by field id (id mode), logicalize,
        # re-stage through _stage_physical so rewritten files look
        # exactly like the table's original data files
        id_mode = mode == "id"
        name_mode = mode == "name"
        _fulls = _fullp.to_pylist()
        rel_by_full = dict(zip(_fulls, snap.adds.column("path").to_pylist()))
        sizes = {
            f: int(s or 0)
            for f, s in zip(_fulls, snap.adds.column("size").to_pylist())
        }
        groups: dict[tuple, list[str]] = {}
        for f, pv in files.items():
            key = tuple(sorted((k, v) for k, v in (pv or {}).items()))
            groups.setdefault(key, []).append(f)
        compact: list[str] = []
        if zorder_by:
            bad = [c for c in zorder_by if c in part_cols]
            if bad:
                raise ValueError(
                    f"zorder_by columns {bad} are partition columns — "
                    "they are constant within a file already"
                )
            # ZORDER re-clusters EVERYTHING (that is the point)
            compact = [f for flist in groups.values() for f in flist]
        else:
            for key, flist in groups.items():
                small = [
                    f
                    for f in flist
                    # a DV'd file is worth rewriting at any size (the mask
                    # disappears and the scan returns to pure codegen)
                    if sizes.get(f, 0) < small_file_bytes or f in dvs
                ]
                if len(small) >= 2 or any(f in dvs for f in small):
                    compact.extend(small)
        if not compact:
            return None
        dv_positions = {}
        if dvs:
            from simple_data_workflow_spark.sources.delta_dv import (
                read_dv_positions,
            )

            for f, desc in dvs.items():
                if f in set(compact):
                    dv_positions[f] = read_dv_positions(
                        lambda p: tablefs.read_file(spark, p), path, desc
                    )
        from simple_data_workflow_spark.sources.delta_reader import (
            _dv_masked_scan,
            _physical_name,
            _physicalize,
            _with_field_ids,
        )

        data_fields = [f for f in schema.fields if f.name not in part_cols]
        data_schema = StructType(data_fields)
        if id_mode:
            from pyspark.sql.types import ArrayType, MapType

            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
            if any(
                isinstance(f.dataType, (StructType, ArrayType, MapType))
                for f in data_fields
            ):
                spark.conf.set(
                    "spark.sql.optimizer.nestedSchemaPruning.enabled",
                    "false",
                )
            scan_schema = _with_field_ids(data_schema)
        else:
            scan_schema = (
                _physicalize(data_schema) if name_mode else data_schema
            )
        # partitionValues (and the on-disk dirs) key by PHYSICAL name
        # on mapped tables — translate back when injecting the columns
        logical_of = {_physical_name(f): f.name for f in schema.fields}
        types = {f.name: f.dataType for f in schema.fields}
        # rewrite per partition group (files in one group share the
        # same partition values, so staging re-derives them correctly)
        staged_all: list[dict] = []
        compact_set = set(compact)
        for key, flist in sorted(groups.items(), key=lambda kv: str(kv[0])):
            victims = [f for f in flist if f in compact_set]
            if not victims:
                continue
            df = _dv_masked_scan(
                spark,
                scan_schema,
                sorted(victims),
                {f: p for f, p in dv_positions.items() if f in victims},
            )
            if name_mode:
                df = df.select(
                    *[
                        F.col(_physical_name(f))
                        .cast(f.dataType)
                        .alias(f.name)
                        for f in data_fields
                    ]
                )
            if zorder_by:
                from simple_data_workflow_spark.sources.sinks import (
                    morton_code_column,
                )

                # target ~small_file_bytes output files so the curve
                # actually SPLITS into prunable hyper-rectangles (AQE
                # would otherwise coalesce a small group to one file)
                gbytes = sum(sizes.get(f, 0) for f in victims)
                n_out = max(1, -(-gbytes // small_file_bytes))
                df = (
                    df.withColumn(
                        "__z", morton_code_column(df, zorder_by)
                    )
                    .repartitionByRange(n_out, "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            else:
                # repartition, NOT coalesce: coalesce(1) pins the whole
                # upstream (multi-file scan + DV masking) to ONE task —
                # profiled as this entry's wall and its 8→32-core
                # anti-scaling; a round-robin shuffle of the (small-file)
                # group keeps the scan+mask parallel and only the final
                # write single-task per output file (guide §2.2/§2.5).
                # Output file count targets ~small_file_bytes like the
                # zorder branch.
                gbytes = sum(sizes.get(f, 0) for f in victims)
                df = df.repartition(max(1, -(-gbytes // small_file_bytes)))
            for c, v in key:
                lc = logical_of.get(c, c)
                lit = (
                    F.lit(None)
                    if v is None or v == "__HIVE_DEFAULT_PARTITION__"
                    else F.lit(v)
                )
                df = df.withColumn(lc, lit.cast(types[lc]))
            df = df.select(*[f.name for f in schema.fields])
            if name_mode or id_mode:
                staged_all.extend(
                    _stage_physical(
                        spark,
                        path,
                        df,
                        {
                            "schema": schema,
                            "part_cols": part_cols,
                            "mapped": name_mode,
                            "id_mode": id_mode,
                            # byte rewrite of existing rows: constraints
                            # already held at their original commit
                            "meta": None,
                        },
                        "OPTIMIZE",
                    )
                )
            else:
                staged_all.extend(
                    _stage_data_files(df, path, list(part_cols))
                )
        now = int(time.time() * 1000)
        lines = [
            json.dumps(
                {
                    "commitInfo": {
                        "timestamp": now,
                        "operation": "OPTIMIZE",
                        "operationParameters": {
                            "targetSize": small_file_bytes,
                            "zOrderBy": json.dumps(list(zorder_by or [])),
                        },
                        "engineInfo": "simple-data-workflow-spark delta_writer",
                    }
                }
            )
        ]
        for f in sorted(compact_set):
            rel = rel_by_full.get(f)
            if rel is None:
                continue
            lines.append(
                json.dumps(
                    {
                        "remove": {
                            "path": rel,
                            "deletionTimestamp": now,
                            "dataChange": False,
                        }
                    }
                )
            )
        for a in staged_all:
            a = dict(a)
            a["dataChange"] = False  # byte rewrite, zero logical change
            lines.append(json.dumps({"add": a}))
        version = cur_v + 1
        if _publish_if_absent(
            spark, path, f"{version:020d}.json", "\n".join(lines) + "\n"
        ):
            return version
        _remove_orphans(spark, path, staged_all)
    raise DeltaConcurrentWrite(
        f"OPTIMIZE on {path} lost the commit race {_retries} times"
    )


def delta_vacuum(
    spark: SparkSession, path: str, retention_hours: float = 168.0
) -> list[str]:
    """Delete data files and DV sidecars no longer referenced by the
    CURRENT snapshot whose modification time is older than the
    retention horizon (default 7 days — Delta's own default). Time
    travel to versions whose files were vacuumed stops working, exactly
    like Delta. Returns the deleted paths. Log JSON is NOT touched
    (checkpoint-based log cleanup is `delta_checkpoint`'s domain)."""
    from simple_data_workflow_spark.sources.delta_reader import (
        delta_snapshot_files,
    )
    from simple_data_workflow_spark.sources.delta_dv import dv_uuid_path

    # Live and walked files compare as scheme-less absolute paths: names
    # under ``path`` join its resolved root, absolute adds (plain or
    # ``file:``) keep their literal names. Relative, ``file:`` and
    # absolute spellings of one file thus meet.
    loc = tablefs.local_root(path)
    if loc is not None:
        base = os.path.abspath(loc)
    else:
        base = _strip_scheme(tablefs.qualified_root(spark, path))
    prefix = f"{path}/"

    def key(p):
        if p.startswith(prefix):
            return f"{base}/{p[len(prefix):]}"
        p = _strip_scheme(p)
        return os.path.abspath(p) if loc is not None else p

    files, dvs, _schema, _pc = delta_snapshot_files(spark, path)
    live = {key(f) for f in files}
    for desc in dvs.values():
        st = desc.get("storageType")
        if st == "u":
            live.add(key(dv_uuid_path(path, desc["pathOrInlineDv"])))
        elif st == "p":
            live.add(key(desc["pathOrInlineDv"]))
    horizon = int(time.time() * 1000) - int(retention_hours * 3600 * 1000)

    def skip(d):
        return d == "_delta_log" or d.startswith(".staging")

    root = loc if loc is not None else path
    deleted = []
    for rel, _, mtime in tablefs.staged_files(spark, path, skip=skip):
        name = rel.rsplit("/", 1)[-1]
        if name.startswith(".") or name.startswith("_"):
            continue
        if not (name.endswith(".parquet") or name.endswith(".bin")):
            continue
        if f"{base}/{rel}" in live:
            continue
        if mtime >= horizon:
            continue  # too young: a concurrent writer may reference it
        if tablefs.remove(spark, f"{root}/{rel}"):
            deleted.append(f"{path}/{rel}")
    return sorted(deleted)


def delta_cleanup_log(
    spark: SparkSession, path: str, retention_hours: float = 720.0
) -> list[int]:
    """Delete commit JSONs at or below the newest CHECKPOINT whose
    modification time is past the retention horizon (Delta's
    ``delta.logRetentionDuration`` behavior, default 30 days) — the
    checkpoint carries the full pre-horizon state, so replay
    correctness is unaffected; only time travel to the cleaned
    versions stops. Returns the deleted versions. Without a
    checkpoint nothing is deleted (the JSONs ARE the table)."""
    commits, cps = _list_log(spark, path)
    if not cps:
        return []
    cp_max = max(cps)
    horizon = int(time.time() * 1000) - int(retention_hours * 3600 * 1000)
    deleted = []
    for v in sorted(commits):
        if v > cp_max:
            continue  # newer than the checkpoint: still load-bearing
        p = f"{path}/_delta_log/{v:020d}.json"
        if tablefs.stat(spark, p)[1] >= horizon:
            continue
        tablefs.remove(spark, p)
        deleted.append(v)
    return deleted


def delta_restore(
    spark: SparkSession, path: str, version: int, _retries: int = 5
) -> int:
    """RESTORE TABLE TO VERSION ``version`` — ONE commit whose
    remove+add actions flip the current file set back to the target
    snapshot's (a metadata-sized file-level diff; data files are
    immutable, so target files simply re-reference — including their
    deletion-vector descriptors as of that version). The restore is
    itself a NEW commit: history is preserved, the restore shows in the
    log, and it can be time-traveled past or restored again (Delta's
    own RESTORE semantics). The target's metaData (schema, partition
    columns, configuration) republishes when it differs. Refuses if a
    target data file was vacuumed away (re-adding a missing file would
    corrupt the table)."""
    adds_tgt, meta_tgt, _pt, tgt_v, _tt = _replay_full(
        spark, path, version=version
    )
    if meta_tgt is None:
        raise ValueError(f"no metaData at or before version {version}")
    for rel, a in adds_tgt.items():
        full = _full_path(path, rel)
        if not tablefs.exists(spark, full):
            raise FileNotFoundError(
                f"cannot RESTORE to version {version}: data file {rel} "
                "was removed (vacuumed) from the table directory"
            )
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") in ("u", "p"):
            # the re-referenced DELETION VECTOR sidecar must survive
            # too, or the restored file would resurrect deleted rows
            from simple_data_workflow_spark.sources.delta_dv import (
                dv_uuid_path,
            )

            sc = (
                dv["pathOrInlineDv"]
                if dv["storageType"] == "p"
                else dv_uuid_path(path, dv["pathOrInlineDv"])
            )
            if not tablefs.exists(spark, sc):
                raise FileNotFoundError(
                    f"cannot RESTORE to version {version}: the deletion-"
                    f"vector sidecar for {rel} was removed (vacuumed)"
                )
    for attempt in range(_retries):
        adds_now, meta_now, cur_proto, cur_v, _t = _replay_full(spark, path)
        _check_writer_allowed(
            cur_proto, meta_now, "RESTORE", removes_data=True
        )
        if version > cur_v:
            raise ValueError(
                f"version {version} is newer than the current {cur_v}"
            )
        now = int(time.time() * 1000)
        lines = [
            json.dumps(
                {
                    "commitInfo": {
                        "timestamp": now,
                        "operation": "RESTORE",
                        "operationParameters": {"version": int(version)},
                        "engineInfo": "simple-data-workflow-spark delta_writer",
                    }
                }
            )
        ]
        if (
            meta_now.get("schemaString") != meta_tgt.get("schemaString")
            or (meta_now.get("partitionColumns") or [])
            != (meta_tgt.get("partitionColumns") or [])
            or (meta_now.get("configuration") or {})
            != (meta_tgt.get("configuration") or {})
        ):
            lines.append(json.dumps({"metaData": meta_tgt}))
        n_changes = 0
        for rel in sorted(adds_now):
            same = rel in adds_tgt and adds_now[rel].get(
                "deletionVector"
            ) == adds_tgt[rel].get("deletionVector")
            if not same:
                lines.append(
                    json.dumps(
                        {
                            "remove": {
                                "path": rel,
                                "deletionTimestamp": now,
                                "dataChange": True,
                            }
                        }
                    )
                )
                n_changes += 1
        for rel in sorted(adds_tgt):
            same = rel in adds_now and adds_now[rel].get(
                "deletionVector"
            ) == adds_tgt[rel].get("deletionVector")
            if not same:
                a = dict(adds_tgt[rel])
                a["dataChange"] = True
                a["modificationTime"] = now
                lines.append(json.dumps({"add": a}))
                n_changes += 1
        if n_changes == 0 and len(lines) == 1:
            return cur_v  # already at the target state: metadata no-op
        new_v = cur_v + 1
        if _publish_if_absent(
            spark, path, f"{new_v:020d}.json", "\n".join(lines) + "\n"
        ):
            return new_v
    raise DeltaConcurrentWrite(
        f"RESTORE on {path} lost the commit race {_retries} times"
    )
