"""Structured Streaming SOURCE for the native transaction-log table
format — ``spark.readStream.format("tablelog")`` tails a
``sources.tablelog`` table commit-by-commit, via PySpark 4's Python
Data Source API.

Why this shape is scale-right:

- **Offsets are log versions** (`{"version": N}`), so micro-batch
  planning is one log-directory listing — no data is touched to decide
  what's new, and a restarted query replays the exact same version
  range from its checkpoint (deterministic offsets ⇒ the usual
  exactly-once-with-idempotent-sink contract holds).
- **One input partition per newly-added data file**: the batch's read
  parallelism equals the number of new files, each worker reads its
  file with Arrow (``pyarrow.parquet`` → ``RecordBatch`` — the
  zero-copy path into Spark), and a batch's cost is proportional to
  the NEW data, never the table.
- **Schema comes from the log**, so files predating a metadata-only
  schema evolution stream the added columns as NULL, same as batch
  ``table_read``.
- Non-append commits (DML deltas, overwrites) rewrite existing rows;
  by default the stream FAILS on them rather than silently re-emitting
  carried-over rows. ``allowRewrites=true`` opts into at-least-once
  change-feed semantics (every row of the added files, tagged with
  ``_commit_version`` — dedupe downstream on a key), matching batch
  ``tablelog.table_changes``.

Filesystem access uses ``pyarrow.fs.FileSystem.from_uri``, so the same
source code serves local paths and any URI Arrow can mount (s3://,
hdfs://) — the Python worker reading a partition has no JVM or
SparkSession, which is also why this module re-implements the few log
helpers it needs on pyarrow instead of importing ``sources.tablelog``.

Usage::

    from simple_data_workflow_spark.streaming.tablelog_source import (
        TablelogStreamDataSource,
    )
    spark.dataSource.register(TablelogStreamDataSource)
    stream = (
        spark.readStream.format("tablelog")
        .option("path", table_path)
        .load()
    )
    # batch half (round 8): snapshot read with time travel and
    # driver-side file pruning from pushed filters
    snap = (
        spark.read.format("tablelog")
        .option("path", table_path)  # + .option("version", "3")
        .load()
        .where("g = 2")  # pushed; prunes files via the log's stats
    )
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

VERSION_COL = "_commit_version"
CHANGE_COL = "_change_type"


def _fs_for(path: str):
    """``(pyarrow filesystem, root)`` for ``path``. Only a scheme-less
    path falls back to the local filesystem; a URI Arrow cannot mount
    (e.g. ``s3a://``) raises rather than reading as an empty table."""
    import pyarrow as pa
    import pyarrow.fs as pafs

    try:
        return pafs.FileSystem.from_uri(path)
    except pa.ArrowInvalid:
        from simple_data_workflow_spark.sources import tablefs

        if tablefs.local_root(path) is None:
            raise
        return pafs.LocalFileSystem(), path


def _data_ref(root: str, f: str) -> str:
    """Resolve a logged file reference: bare uuid names live under
    this table's ``data/``; refs carrying a ``/`` (shallow-clone
    entries pointing into another table's data dir) pass through —
    mirrors ``sources.tablelog._data_path``."""
    return f if "/" in f else f"{root}/data/{f}"


def _list_entry_versions(path: str) -> list[int]:
    import pyarrow.fs as pafs

    fs, root = _fs_for(path)
    sel = pafs.FileSelector(f"{root}/_log", allow_not_found=True)
    out = []
    for info in fs.get_file_info(sel):
        name = info.base_name
        if name.startswith(".") or name.endswith(".checkpoint.json"):
            continue
        if name.endswith(".json"):
            out.append(int(name[:-5]))
    return sorted(out)


def _list_log_arrow(path: str) -> tuple[list[int], list[int]]:
    """(entry versions, checkpoint versions) — the pyarrow twin of the
    JVM ``tablelog._list_log``, for session-free processes."""
    import pyarrow.fs as pafs

    fs, root = _fs_for(path)
    sel = pafs.FileSelector(f"{root}/_log", allow_not_found=True)
    entries, cps = [], []
    for info in fs.get_file_info(sel):
        name = info.base_name
        if name.startswith("."):
            continue
        if name.endswith(".checkpoint.json"):
            cps.append(int(name[: -len(".checkpoint.json")]))
        elif name.endswith(".json"):
            entries.append(int(name[:-5]))
    return sorted(entries), sorted(cps)


def _read_log_json(path: str, name: str) -> dict:
    fs, root = _fs_for(path)
    with fs.open_input_stream(f"{root}/_log/{name}") as f:
        return json.loads(f.read().decode("utf-8"))


def _resolve_state_arrow(path: str, version: int | None = None) -> dict:
    """Snapshot resolution (files/schema/stats/deletion-vectors/column
    map at a version) on pure pyarrow — same checkpoint-plus-bounded-
    tail replay as the JVM ``tablelog._resolve_state``, usable from
    the session-free driver process the Python Data Source API runs
    in. Round 9: returns ``dvs`` (merge-on-read deletion-vector
    sidecars) and ``column_map`` (logical→physical names after
    metadata-only RENAME/DROP COLUMN) instead of refusing — the format
    readers now apply both."""
    entries, cps = _list_log_arrow(path)
    if not entries and not cps:
        raise FileNotFoundError(f"no table log under {path}")
    latest = max(entries[-1] if entries else -1, cps[-1] if cps else -1)
    upto = latest if version is None else version
    if upto not in set(entries) | set(cps):
        raise ValueError(f"version {upto} not in retained log")
    start_cp = max((c for c in cps if c <= upto), default=None)
    files: list[str] = []
    stats: dict = {}
    schema: str | None = None
    fvers: dict = {}
    dvs: list[str] = []
    column_map: dict = {}
    tags: dict = {}
    partition_by = None
    if start_cp is not None:
        cp = _read_log_json(path, f"{start_cp:08d}.checkpoint.json")
        files, schema = list(cp["files"]), cp.get("schema")
        stats = dict(cp.get("stats", {}))
        dvs = list(cp.get("dvs", []))
        column_map = dict(cp.get("column_map", {}))
        tags = {k: int(v) for k, v in cp.get("tags", {}).items()}
        partition_by = cp.get("partition_by")
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
        e = _read_log_json(path, f"{v:08d}.json")
        action = e["action"]
        if action == "overwrite":
            files = list(e["files"])
            stats = dict(e.get("stats", {}))
            fvers = {f: v for f in files}
            dvs = list(e.get("dvs", []))
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
        elif action == "dv":
            # merge-on-read DML: row-position deletion vectors over
            # unchanged data files; a MoR UPDATE's postimage files
            # ride the same entry as ``add`` (mirror of the JVM replay)
            dvs.extend(e.get("dv_add", []))
            files.extend(e.get("add", []))
            stats.update(e.get("stats", {}))
            for f in e.get("add", []):
                fvers[f] = v
        schema = e.get("schema", schema)
        # column mapping rides any entry (meta commits for RENAME/DROP
        # COLUMN, data commits that allocated fresh physicals) — the
        # newest declaration wins, mirroring the JVM replay. Without
        # this, a renamed column's files would be read under the
        # LOGICAL name, miss, and NULL-fill: silent data loss.
        if "column_map" in e:
            column_map = dict(e["column_map"])
        if "partition_by" in e:
            partition_by = e["partition_by"]
        # tags: per-entry merge, None deletes (JVM-replay mirror)
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
        "file_versions": fvers,
        "dvs": dvs,
        "column_map": column_map,
        "tags": tags,
        "partition_by": partition_by,
    }


def _version_from_options(path: str, options: dict) -> int | None:
    """Resolve the snapshot version a reader's options pin: explicit
    ``version``, a named ``tag`` (resolved against the CURRENT tag
    set — one log replay), or ``timestampAsOf`` (ISO-8601 or epoch
    millis; newest retained version committed at or before it, from
    the ``ts`` field each entry records at publish). Mutually
    exclusive, all optional."""
    v, tag = options.get("version"), options.get("tag")
    ts = options.get("timestampasof", options.get("timestampAsOf"))
    if sum(x is not None for x in (v, tag, ts)) > 1:
        raise ValueError(
            "pass at most one of .option('version'), .option('tag'), "
            ".option('timestampAsOf')"
        )
    if tag is not None:
        tags = _resolve_state_arrow(path, None)["tags"]
        if tag not in tags:
            raise ValueError(
                f"no tag {tag!r} at {path} (tags: {sorted(tags)})"
            )
        return tags[tag]
    if ts is not None:
        import datetime as _dt

        try:
            ts_ms = int(ts)
        except ValueError:
            parsed = _dt.datetime.fromisoformat(ts)
            if parsed.tzinfo is None:
                parsed = parsed.replace(tzinfo=_dt.timezone.utc)
            ts_ms = int(parsed.timestamp() * 1000)
        entries, _ = _list_log_arrow(path)
        best = None
        for ver in entries:
            e_ts = _read_log_json(path, f"{ver:08d}.json").get("ts")
            if e_ts is not None and int(e_ts) <= ts_ms:
                best = ver  # sorted ascending: last match wins
        if best is None:
            raise ValueError(
                f"timestampAsOf {ts!r} predates all retained history at "
                f"{path}"
            )
        return best
    return int(v) if v is not None else None


def _dv_positions_arrow(path: str, dvs: list[str]) -> dict[str, list[int]]:
    """Deleted row positions per data-file BASENAME, read from the
    deletion-vector parquet sidecars with pyarrow — the session-free
    twin of ``tablelog._dv_frame``. Read ONCE driver-side at planning
    time (bytes ∝ outstanding deletes, the same metadata Delta's
    scan planner loads), then each partition ships only ITS OWN
    positions — a worker never re-reads the sidecars."""
    import pyarrow.parquet as pq

    fs, root = _fs_for(path)
    out: dict[str, list[int]] = {}
    for d in dvs:
        ref = _data_ref(root, d)
        with fs.open_input_file(ref) as f:
            t = pq.read_table(f, columns=["file", "pos"])
        for fname, pos in zip(
            t.column("file").to_pylist(), t.column("pos").to_pylist()
        ):
            out.setdefault(fname.rsplit("/", 1)[-1], []).append(int(pos))
    return out


def _read_entry(path: str, version: int) -> dict:
    fs, root = _fs_for(path)
    with fs.open_input_stream(f"{root}/_log/{version:08d}.json") as f:
        return json.loads(f.read().decode("utf-8"))


#: mirror of tablelog's string-stat cap: longer bounds are dropped, not
#: truncated (a truncated max is no longer an upper bound)
_MAX_STAT_STR = 64


def _footer_stats(fs, root: str, name: str) -> dict:
    """Per-file min/max/null-count/row-count harvested from the parquet
    FOOTER of a just-staged sink file — the pyarrow twin of the JVM
    ``tablelog._collect_stats``, at zero extra scan cost (the footer is
    already written). Gives streaming-landed files the same driver-side
    pruning and metadata-only COUNT(*) as batch-landed ones.
    Serialization matches ``tablelog._ser_stat``: temporals → ISO
    strings, long strings dropped, NaN bounds dropped, nested/binary
    columns skipped."""
    import datetime as _dt
    import math

    import pyarrow.parquet as pq

    def ser(v):
        if v is None or isinstance(v, bytes):
            return None
        if isinstance(v, bool):
            return v
        if isinstance(v, float) and math.isnan(v):
            return None
        if isinstance(v, (int, float)):
            return v
        if isinstance(v, (_dt.datetime, _dt.date)):
            return v.isoformat()
        if isinstance(v, str):
            return v if len(v) <= _MAX_STAT_STR else None
        return None

    with fs.open_input_file(f"{root}/data/{name}") as f:
        md = pq.ParquetFile(f).metadata
    per_col: dict = {"__rows": int(md.num_rows)}
    # aggregate row-group stats per top-level column; a column with ANY
    # unusable row-group stat is disqualified (partial bounds would not
    # bound the file)
    acc: dict = {}
    bad: set = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            cname = col.path_in_schema
            if cname in bad:
                continue
            st = col.statistics
            mn = mx = nulls = None
            if "." not in cname and st is not None and st.has_min_max:
                mn, mx = ser(st.min), ser(st.max)
                if st.has_null_count:
                    nulls = int(st.null_count or 0)
            if mn is None or mx is None or nulls is None:
                bad.add(cname)
                acc.pop(cname, None)
                continue
            prev = acc.get(cname)
            acc[cname] = (
                [mn, mx, nulls]
                if prev is None
                else [min(prev[0], mn), max(prev[1], mx), prev[2] + nulls]
            )
    per_col.update(acc)
    return per_col


def _publish_if_absent(fs, root: str, name: str, payload: bytes) -> bool:
    """Publish ``payload`` to ``_log/<name>`` if-absent; returns whether
    this writer won the slot. On local filesystems this is the batch
    path's own primitive (``tablefs.write_if_absent``, a POSIX
    ``link(2)`` that fails EEXIST atomically), so a streaming sink and a
    concurrent batch appender contending for one slot can never both
    win, and neither can clobber the other. Non-local filesystems fall
    back to check-then-move (best-effort, the documented object-store
    caveat every log-format carries without a coordination layer)."""
    import uuid as _uuid

    import pyarrow.fs as pafs

    from simple_data_workflow_spark.sources import tablefs

    slot = f"{root}/_log/{name}"
    if isinstance(fs, pafs.LocalFileSystem):
        return tablefs.write_if_absent(slot, payload)
    if fs.get_file_info(slot).type.name != "NotFound":
        return False
    tmp = f"{root}/_log/.tmp-{_uuid.uuid4().hex}.json"
    with fs.open_output_stream(tmp) as out:
        out.write(payload)
    fs.move(tmp, slot)
    return True


@dataclass
class _FilePartition(InputPartition):
    file_path: str
    version: int
    #: logical→physical column names (column mapping); None = identity
    cmap: dict | None = None
    #: MoR-deleted row positions WITHIN this file (sorted); None = none
    dv_positions: list | None = None
    #: change-feed mode: "insert" / "delete"; None = plain snapshot row
    change_type: str | None = None
    #: change-feed DELETE partitions: row positions to EMIT from the
    #: file (the deletion vector's targets) — take, not mask
    take_positions: list | None = None


class TablelogStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("tablelog source requires .option('path', ...)")
        self._allow_rewrites = (
            str(options.get("allowrewrites", "false")).lower() == "true"
        )
        # change-data-feed mode: rows carry _change_type insert/delete.
        # Appends are inserts; MoR "dv" commits yield EXACT row-level
        # deletes (positions from the sidecar, preimage rows read from
        # the untouched target file) + postimage inserts — so the
        # recommended at-scale DML mode streams its changes exactly.
        # Compactions are zero logical change, skipped from metadata.
        # File-rewrite DML / overwrites still gate on allowRewrites
        # (their adds then stream as at-least-once inserts) — the same
        # boundary the non-CDF reader documents.
        self._cdf = (
            str(options.get("readchangefeed", "false")).lower() == "true"
        )
        if "startingversion" in options and "startingtag" in options:
            raise ValueError(
                "pass .option('startingVersion') OR .option('startingTag'), "
                "not both"
            )
        if "startingtag" in options:
            # stream everything AFTER the tagged snapshot — "tag the
            # version the model trained on, stream what changed since"
            tags = _resolve_state_arrow(self._path, None)["tags"]
            name = options["startingtag"]
            if name not in tags:
                raise ValueError(
                    f"no tag {name!r} at {self._path} (tags: {sorted(tags)})"
                )
            self._starting = tags[name]
        elif "startingversion" in options:
            self._starting = int(options["startingversion"])
        else:
            # default: every RETAINED entry, then tail. Anchoring at -1
            # would make partitions() demand version 0, which fails
            # permanently on any table whose history was truncated;
            # rows that live only in the truncation checkpoint are a
            # batch-backfill concern (table_read), not a stream replay.
            entries = _list_entry_versions(self._path)
            self._starting = (entries[0] - 1) if entries else -1
        # arrow schema WITHOUT the version/change tags; built driver-side
        # (the worker in read() has no SparkSession) and pickled with self
        from pyspark.sql.pandas.types import to_arrow_schema

        data_fields = [
            f for f in schema.fields if f.name not in (VERSION_COL, CHANGE_COL)
        ]
        self._arrow_schema = to_arrow_schema(StructType(data_fields))

    # -- offsets: {"version": N} == all versions <= N consumed
    def initialOffset(self) -> dict:
        return {"version": self._starting}

    def latestOffset(self) -> dict:
        versions = _list_entry_versions(self._path)
        latest = versions[-1] if versions else self._starting
        return {"version": max(latest, self._starting)}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["version"], end["version"]
        entries = set(_list_entry_versions(self._path))
        # column mapping as of the batch's END version: physical names
        # are STABLE for a column's whole life, so the newest map reads
        # every older file correctly (a retired physical maps to no
        # logical field and never resurfaces) — without it a renamed
        # column would stream as NULL, silent data loss
        try:
            cmap = (
                _resolve_state_arrow(self._path, hi if hi in entries else None)
                .get("column_map")
                or None
            )
        except (FileNotFoundError, ValueError):
            cmap = None
        parts: list[_FilePartition] = []
        for v in range(lo + 1, hi + 1):
            if v not in entries:
                raise ValueError(
                    f"tablelog stream needs version {v} but it is not "
                    "retained (history truncated past the stream's cursor)"
                )
            e = _read_entry(self._path, v)
            if e["action"] == "meta":
                continue  # metadata-only (rename/drop column): no rows
            fs, root = _fs_for(self._path)
            if self._cdf and e["action"] == "dv":
                # MoR DML streams EXACTLY: deletes = sidecar positions
                # taken from the untouched target files (resolved to
                # refs via the snapshot the DVs landed on), inserts =
                # the entry's postimage files
                name_to_ref = {
                    f.rsplit("/", 1)[-1]: _data_ref(root, f)
                    for f in _resolve_state_arrow(self._path, v)["files"]
                }
                for fname, positions in _dv_positions_arrow(
                    self._path, list(e.get("dv_add", []))
                ).items():
                    ref = name_to_ref.get(fname)
                    if ref is None:
                        raise ValueError(
                            f"dv commit {v} targets {fname}, absent from "
                            f"the version-{v} snapshot"
                        )
                    parts.append(
                        _FilePartition(
                            ref, v, cmap=cmap, change_type="delete",
                            take_positions=sorted(positions),
                        )
                    )
                for f in e.get("add", []):
                    parts.append(
                        _FilePartition(
                            _data_ref(root, f), v, cmap=cmap,
                            change_type="insert",
                        )
                    )
                continue
            if self._cdf and e["action"] == "delta" and (
                e.get("op") in ("compact", "compact_small")
            ):
                continue  # byte rewrite, zero logical change (metadata)
            if e["action"] != "append" and not self._allow_rewrites:
                raise ValueError(
                    f"version {v} is a {e.get('op', e['action'])!r} commit; "
                    "its files mix rewritten and carried-over rows — set "
                    ".option('allowRewrites', 'true') for at-least-once "
                    "change-feed semantics"
                )
            for f in list(e.get("files", [])) + list(e.get("add", [])):
                parts.append(
                    _FilePartition(
                        _data_ref(root, f), v, cmap=cmap,
                        change_type="insert" if self._cdf else None,
                    )
                )
        return parts

    def read(self, partition: _FilePartition):
        # runs in a Python worker: pyarrow only, no SparkSession
        import pyarrow as pa

        out = _read_file_arrow(
            self._path,
            partition.file_path,
            self._arrow_schema,
            cmap=partition.cmap,
        )
        if partition.take_positions is not None:
            # change-feed DELETE: emit exactly the deletion vector's
            # target rows (positions are file-physical row indexes)
            out = out.take(pa.array(partition.take_positions, pa.int64()))
        if partition.change_type is not None:
            out = out.append_column(
                CHANGE_COL,
                pa.repeat(
                    pa.scalar(partition.change_type, pa.string()),
                    out.num_rows,
                ),
            )
        out = out.append_column(
            VERSION_COL,
            # constant column without a per-row Python list
            pa.repeat(pa.scalar(partition.version, pa.int64()), out.num_rows),
        )
        yield from out.to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint; nothing to clean

    def stop(self) -> None:
        pass


def _read_file_arrow(
    base_path: str,
    file_path: str,
    arrow_schema,
    cmap: dict | None = None,
    dv_positions: list | None = None,
):
    """Read one data file as an Arrow table conformed to the logged
    schema: columns match by name, files predating a metadata-only
    schema evolution fill the added columns with NULL — same contract
    as batch ``table_read``. ``cmap`` (logical→physical column names)
    makes metadata-only RENAME/DROP COLUMN read correctly: the file is
    probed under the PHYSICAL name and presented under the logical one
    (a retired physical never resurfaces — it maps to no logical
    field). ``dv_positions`` (merge-on-read deleted row indexes within
    THIS file) are masked out with one boolean filter — row order is
    the file's physical order, matching ``_metadata.row_index`` on the
    JVM path. Runs in a session-free Python worker."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fs, _ = _fs_for(base_path)
    with fs.open_input_file(file_path) as f:
        table = pq.read_table(f)
    cols = []
    for field in arrow_schema:
        phys = (cmap or {}).get(field.name, field.name)
        if phys in table.column_names:
            cols.append(table.column(phys).cast(field.type))
        else:
            cols.append(pa.nulls(table.num_rows, field.type))
    out = pa.table(cols, schema=pa.schema(list(arrow_schema)))
    if dv_positions:
        import numpy as np

        mask = np.ones(out.num_rows, dtype=bool)
        mask[np.asarray(dv_positions, dtype=np.int64)] = False
        out = out.filter(pa.array(mask))
    return out


class TablelogBatchReader(DataSourceReader):
    """Batch half of ``format("tablelog")``: ``spark.read`` over a
    snapshot (latest or ``version=`` time travel), one input partition
    per resolved data file, each read worker-side with Arrow.

    Filter pushdown (``pushFilters``) translates the supported
    comparisons into the same ``(col, op, value)`` tuples the
    functional ``table_scan`` uses and prunes the FILE LIST driver-side
    against the commit log's per-file stats — including the
    partition-membership stats — before Spark plans a single task.
    Every filter is returned as unhandled, so Spark still applies them
    row-level: pruning is an optimization, never the semantics (the
    same contract ``table_scan`` documents).

    Rows carry ``_commit_version`` — the version whose commit added
    the file they live in (exact: per-file provenance is tracked
    through log replay AND checkpoints; legacy checkpoints degrade to
    "at or before the checkpoint")."""

    def __init__(self, schema: StructType, options: dict):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("tablelog source requires .option('path', ...)")
        if str(options.get("readchangefeed", "false")).lower() == "true":
            raise ValueError(
                "readChangeFeed is a STREAMING option (readStream); for a "
                "batch change feed use tablelog.table_changes_rowlevel"
            )
        self._version = _version_from_options(self._path, options)
        from pyspark.sql.pandas.types import to_arrow_schema

        data_fields = [f for f in schema.fields if f.name != VERSION_COL]
        self._arrow_schema = to_arrow_schema(StructType(data_fields))
        self._filter_tuples: list[tuple] = []

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
        )

        ops = {
            EqualTo: "==",
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
            In: "in",
            IsNull: "isnull",
            IsNotNull: "notnull",
        }
        for f in filters:
            op = ops.get(type(f))
            if op is not None and len(f.attribute) == 1:
                if op == "in":
                    val = list(f.values)
                elif op in ("isnull", "notnull"):
                    val = None
                else:
                    val = f.value
                self._filter_tuples.append((f.attribute[0], op, val))
            # yield EVERYTHING back as unhandled: the tuples only prune
            # files; Spark keeps row-level responsibility
            yield f

    def partitions(self):
        # driver-side: the JVM module is importable here (workers never
        # call this), and _stats_prune is a pure function
        from simple_data_workflow_spark.sources.tablelog import (
            _bloom_prune,
            _stats_prune,
        )

        state = _resolve_state_arrow(self._path, self._version)
        files = state["files"]
        cmap = state.get("column_map") or None
        filters = self._filter_tuples
        if filters and cmap:
            # stats are keyed by PHYSICAL name (stable across renames);
            # pushed filters arrive logical — translate once, exactly
            # as table_scan does
            filters = [(cmap.get(c, c), o, v) for c, o, v in filters]
        if filters:
            from simple_data_workflow_spark.sources.tablelog import (
                _derive_transform_filters,
            )

            # hidden partitioning: raw-column filters derive evidence
            # on transformed per-file value sets (days/bucket/...).
            # utc_ok holds by construction here: this session-free path
            # evaluates row filters through Arrow, whose timestamps are
            # instants (naive-UTC) — the same basis the UTC-enforced
            # writer recorded and _transform_value assumes.
            filters = filters + _derive_transform_filters(
                state.get("partition_by"), filters, cmap, utc_ok=True
            )
            files = _stats_prune(state["stats"], files, filters)
            files = _bloom_prune(state["stats"], files, filters)
        # deletion vectors: sidecars read ONCE here (bytes ∝
        # outstanding deletes); each partition ships only its own
        # file's positions, so MoR-maintained tables are readable
        # without compacting (the round-8 refusal removed)
        dv_pos = (
            _dv_positions_arrow(self._path, state["dvs"])
            if state.get("dvs")
            else {}
        )
        fs, root = _fs_for(self._path)
        fvers = state["file_versions"]
        return [
            _FilePartition(
                _data_ref(root, f),
                int(fvers.get(f, state["version"])),
                cmap=cmap,
                dv_positions=dv_pos.get(f.rsplit("/", 1)[-1]),
            )
            for f in files
        ]

    def read(self, partition: _FilePartition):
        import pyarrow as pa

        out = _read_file_arrow(
            self._path,
            partition.file_path,
            self._arrow_schema,
            cmap=partition.cmap,
            dv_positions=partition.dv_positions,
        )
        tagged = out.append_column(
            VERSION_COL,
            pa.repeat(pa.scalar(partition.version, pa.int64()), out.num_rows),
        )
        yield from tagged.to_batches()


class TablelogStreamDataSource(DataSource):
    """``format("tablelog")``: batch AND streaming reads of a native
    table-format path, plus the streaming sink. Batch options: ``path``
    (required), ``version`` (time travel), ``tag`` (named-anchor time
    travel — reads the snapshot ``table_tag`` pinned),
    ``timestampAsOf``. Streaming options: ``path`` (required),
    ``startingVersion`` (default -1 = everything), ``allowRewrites``
    (default false), ``readChangeFeed`` (rows carry
    ``_change_type`` insert/delete — appends and merge-on-read DML
    stream exactly; compactions skip from metadata; file-rewrite
    DML still gates on ``allowRewrites``)."""

    @classmethod
    def name(cls) -> str:
        return "tablelog"

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError("tablelog source requires .option('path', ...)")
        # schema at the PINNED snapshot (version/tag option), not HEAD:
        # a tag created before a schema evolution must read with its
        # own column set. Streaming reads pass no version option and
        # resolve HEAD, as before.
        version = _version_from_options(path, dict(self.options))
        schema_str = _resolve_state_arrow(path, version).get("schema")
        if not schema_str:
            raise ValueError(f"no schema recorded in the log at {path}")
        # this method runs in a session-free Python process, so return
        # the logged ``struct<...>`` STRING with the version tag
        # spliced in — Spark's engine-side type parser accepts it
        # (no _parse_datatype_string here: that needs a SparkSession)
        assert schema_str.startswith("struct<") and schema_str.endswith(">")
        cdf = (
            str(
                self.options.get(
                    "readchangefeed", self.options.get("readChangeFeed", "false")
                )
            ).lower()
            == "true"
        )
        tail = (
            f",{CHANGE_COL}:string,{VERSION_COL}:bigint>"
            if cdf
            else f",{VERSION_COL}:bigint>"
        )
        return f"{schema_str[:-1]}{tail}"

    def reader(self, schema: StructType) -> TablelogBatchReader:
        return TablelogBatchReader(schema, dict(self.options))

    def streamReader(self, schema: StructType) -> TablelogStreamReader:
        return TablelogStreamReader(schema, dict(self.options))

    def streamWriter(self, schema: StructType, overwrite: bool):
        return TablelogStreamWriter(schema, dict(self.options), overwrite)


# ------------------------------------------------------------ stream SINK


@dataclass
class _StagedWrite(WriterCommitMessage):
    staged: list
    rows: int


class TablelogStreamWriter(DataSourceStreamArrowWriter):
    """Exactly-once streaming APPEND sink for the table format.

    Per micro-batch: each task streams its Arrow batches into ONE
    parquet file staged as a dot-file under ``data/`` (invisible — the
    log never references it, and a crashed task leaves bytes, never a
    torn table), returns the staged name as its commit message; the
    driver-side ``commit`` renames the staged files in and publishes
    one atomic log entry stamped with ``stream_batch_id``. A REPLAYED
    micro-batch (restart after a commit that the checkpoint didn't
    record) finds its batch id already in the log and discards its
    staging — idempotent, which upgrades at-least-once delivery to
    exactly-once table contents. This is the same ``txn``-action
    mechanism Delta's streaming sink uses.

    Commits carry per-file stats harvested from the parquet FOOTERS the
    tasks just wrote (``_footer_stats`` — no extra scan), so
    streaming-landed files get the same driver-side pruning and
    metadata-only COUNT(*) as batch-landed ones. CHECK constraints
    (``tablelog.table_set_check_constraint``) are NOT enforced on this
    path — the sink runs session-free and cannot evaluate Spark SQL
    expressions; use ``streaming.sinks.streaming_table_append_sink``
    (the session-ful foreachBatch twin, same exactly-once txn
    mechanism) when the table carries constraints, or filter the
    stream before this sink (documented boundary, not silent).

    Slot publication uses the same atomic if-absent primitive as the
    batch path (``tablefs.write_if_absent`` on local filesystems — POSIX
    ``link(2)`` fails EEXIST atomically), so the sink is safe against CONCURRENT
    BATCH APPENDERS on the same table: one of the two racing commits
    wins each slot, the loser retries the next. Replay dedup is scoped
    per query by ``stream_app_id`` (derived from the checkpoint
    location, or an explicit ``.option("appId", ...)``) — Delta's
    ``(txnAppId, txnVersion)`` shape — so two streaming queries, or
    one query restarted with a FRESH checkpoint (batch ids reset to
    0!), no longer cross-dedupe and silently drop data (round-10 fix;
    previously a documented single-query constraint). On non-local filesystems
    without an if-absent primitive the publish degrades to documented
    best-effort (the object-store caveat every log format carries)."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        if overwrite:
            raise ValueError("tablelog sink supports append output mode only")
        lowered = {k.lower(): v for k, v in options.items()}
        self._path = lowered.get("path")
        if not self._path:
            raise ValueError("tablelog sink requires .option('path', ...)")
        self._schema_str = schema.simpleString()
        # replay-dedup scope (Delta's txnAppId): explicit .option("appId")
        # wins; else derived from the query's checkpoint location (all
        # DataStreamWriter options reach the sink), so a restart with a
        # FRESH checkpoint — whose batch ids reset to 0 — gets a fresh
        # scope instead of colliding with committed history and being
        # silently dropped as replays. None = legacy bare-id dedup.
        self._app_id = lowered.get("appid")
        if self._app_id is None and lowered.get("checkpointlocation"):
            import hashlib

            self._app_id = hashlib.md5(
                lowered["checkpointlocation"].rstrip("/").encode("utf-8")
            ).hexdigest()[:16]

    def write(self, iterator):
        import uuid as _uuid

        import pyarrow.parquet as pq

        fs, root = _fs_for(self._path)
        fs.create_dir(f"{root}/data", recursive=True)
        name = f".stage-stream-{_uuid.uuid4().hex}.parquet"
        writer = None
        rows = 0
        for batch in iterator:
            if writer is None:
                sink = fs.open_output_stream(f"{root}/data/{name}")
                writer = pq.ParquetWriter(sink, batch.schema)
            writer.write_batch(batch)
            rows += batch.num_rows
        if writer is None:
            return _StagedWrite(staged=[], rows=0)  # empty partition
        writer.close()
        return _StagedWrite(staged=[name], rows=rows)

    def _cleanup(self, messages):
        fs, root = _fs_for(self._path)
        for m in messages:
            for name in getattr(m, "staged", None) or []:
                with _suppress_missing():
                    fs.delete_file(f"{root}/data/{name}")

    def commit(self, messages, batchId: int) -> None:
        import uuid as _uuid

        fs, root = _fs_for(self._path)
        versions = _list_entry_versions(self._path)
        newest_schema = None
        for v in reversed(versions):
            e = _read_entry(self._path, v)
            if newest_schema is None:
                newest_schema = e.get("schema")
            sbid = e.get("stream_batch_id")
            if sbid is None or e.get("stream_app_id") != self._app_id:
                continue  # non-stream entry or another query's scope
            if sbid == batchId:
                self._cleanup(messages)  # replayed batch: already live
                return
            # per-scope batch ids are monotonic: the newest same-scope
            # id being older proves this batch is new — the scan stays
            # O(interleaved other writers), not O(history)
            break
        if newest_schema is not None and newest_schema != self._schema_str:
            self._cleanup(messages)
            raise TypeError(
                f"stream append schema drift at {self._path}: table has "
                f"{newest_schema}, stream has {self._schema_str}"
            )
        final = []
        stats = {}
        for m in messages:
            for name in getattr(m, "staged", None) or []:
                target = f"{_uuid.uuid4().hex}.parquet"
                fs.move(f"{root}/data/{name}", f"{root}/data/{target}")
                final.append(target)
                # footer-harvested stats: streaming-landed files prune
                # and metadata-count exactly like batch-landed ones
                try:
                    stats[target] = _footer_stats(fs, root, target)
                except Exception:
                    pass  # no stat → conservative (file never pruned)
        payload = {
            "action": "append",
            "files": final,
            "schema": self._schema_str,
            "stream_batch_id": batchId,
            "stats": stats,
        }
        if self._app_id is not None:
            payload["stream_app_id"] = self._app_id
        entry = json.dumps(payload).encode("utf-8")
        fs.create_dir(f"{root}/_log", recursive=True)
        for _ in range(10):
            versions = _list_entry_versions(self._path)
            next_v = (versions[-1] + 1) if versions else 0
            # atomic if-absent publish (link(2) on local FS — the same
            # primitive the batch path uses), so racing a
            # concurrent BATCH appender can no longer clobber either
            # side's just-won commit; a lost race re-lists for the
            # next slot
            if _publish_if_absent(fs, root, f"{next_v:08d}.json", entry):
                return
        raise RuntimeError(f"stream commit lost 10 races at {self._path}")

    def abort(self, messages, batchId: int) -> None:
        self._cleanup(messages)


def _suppress_missing():
    import contextlib

    return contextlib.suppress(FileNotFoundError, OSError)
