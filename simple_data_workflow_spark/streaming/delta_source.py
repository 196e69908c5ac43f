"""Streaming READS of the jar-free Delta log (round 11, VERDICT r10 #7).

``spark.readStream.format("deltalog")`` over a table written by
``sources.delta_writer`` (or any spec-conformant Delta writer):
commit-driven microbatches via PySpark 4's Python Data Source API — the
same architecture as ``streaming.tablelog_source`` (offsets are commit
versions; each batch reads exactly the files its commits added, so
batch boundaries equal transaction boundaries).

Semantics:

- **Append commits stream exactly**: every ``add`` with
  ``dataChange=true`` and no sibling ``remove`` is new rows.
- **Rewrite commits (DML/overwrite/merge) refuse by default** —
  their adds mix rewritten and carried-over rows, so tailing them as
  inserts would duplicate; ``.option("allowRewrites", "true")`` opts
  into at-least-once semantics and streams the adds (deletion-vector
  re-adds stream their LIVE rows — the DV mask applies in the reader).
- **Metadata/protocol-only commits** contribute no rows.
- Rows carry ``_commit_version`` (the Delta version that added them).
- ``.option("startingVersion", N)`` anchors the stream after version
  N; the default replays every retained commit then tails. A commit
  needed by the cursor but vacuumed away raises (truncated history is
  a batch-backfill concern, like the tablelog source documents).

Scope: column mapping ``name`` mode translates physical→logical per
field; ``id`` mode renames the file's fields to their LOGICAL names by
matching the parquet footers' ``PARQUET:field_id`` against
``delta.columnMapping.id`` at EVERY nesting level (an Arrow schema
cast — positional, values never move), falling back to physical names
for files without id metadata — the same fallback Spark's fieldId
read path applies. Partition values inject from the log's
``partitionValues`` as constant Arrow columns.

Everything driver-side is metadata-sized (log JSON bytes); workers read
their one parquet file through pyarrow with no SparkSession — the same
posture as the native tablelog source.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from simple_data_workflow_spark.sources.delta_reader import _full_path

VERSION_COL = "_commit_version"

_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"
_PHYS_KEY = "delta.columnMapping.physicalName"
_ID_KEY = "delta.columnMapping.id"


def _local(path: str) -> str:
    """Plain-local path for ``path``. This source reads through
    ``open`` and ``pyarrow.fs.LocalFileSystem`` only, so a path on any
    other filesystem is refused rather than mapped onto a local one."""
    from simple_data_workflow_spark.sources import tablefs

    loc = tablefs.local_root(path)
    if loc is None:
        raise NotImplementedError(
            f"deltalog streaming reads local tables only, not {path!r}"
        )
    return loc


def _list_log(path: str) -> list[int]:
    """Retained commit versions (session-free listing)."""
    import pyarrow.fs as pafs

    fs = pafs.LocalFileSystem()
    sel = pafs.FileSelector(
        f"{_local(path)}/_delta_log", allow_not_found=True
    )
    out = []
    for info in fs.get_file_info(sel):
        name = info.base_name
        if name.startswith("."):
            continue
        if name.endswith(".json") and name[:-5].isdigit():
            out.append(int(name[:-5]))
    return sorted(out)


def _read_commit(path: str, version: int) -> list[dict]:
    with open(
        f"{_local(path)}/_delta_log/{version:020d}.json", "rb"
    ) as f:
        return [
            json.loads(line)
            for line in f.read().decode("utf-8").splitlines()
            if line.strip()
        ]


def _latest_meta(path: str) -> dict:
    """The newest metaData action across retained commits (schema +
    partition columns + configuration) — metadata-sized replay."""
    meta = None
    for v in _list_log(path):
        for a in _read_commit(path, v):
            if "metaData" in a:
                meta = a["metaData"]
    if meta is None:
        raise ValueError(f"no metaData action in the Delta log at {path}")
    return meta


@dataclass
class _DeltaFilePartition(InputPartition):
    file_path: str
    version: int
    #: logical name -> physical name (column mapping); None = identity
    cmap: dict | None = None
    #: parquet field id -> logical name at EVERY nesting level
    #: (id-mode mapping); None = off
    idnames: dict | None = None
    #: partition column -> string value (None encodes NULL)
    partition_values: dict = field(default_factory=dict)
    #: deletion-vector positions to MASK OUT; None = none
    dv_positions: list | None = None
    #: CDF file: keep only rows whose _change_type is in this list,
    #: then drop the column; None = a plain data file
    cdc_types: list | None = None


class DeltaStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("deltalog source requires .option('path', ...)")
        self._allow_rewrites = (
            str(options.get("allowrewrites", "false")).lower() == "true"
        )
        meta = _latest_meta(self._path)
        conf = meta.get("configuration") or {}
        mode = conf.get("delta.columnMapping.mode", "none")
        table_schema = StructType.fromJson(json.loads(meta["schemaString"]))
        self._part_cols = list(meta.get("partitionColumns") or [])
        cmap = {}
        for f in table_schema.fields:
            phys = (f.metadata or {}).get(_PHYS_KEY)
            if phys and phys != f.name:
                cmap[f.name] = phys
        self._cmap = cmap or None
        self._idnames = None
        if mode == "id":
            from pyspark.sql import types as T

            # id → LOGICAL name at EVERY nesting level (Delta mapping
            # ids are table-globally unique): the worker renames the
            # file's fields by footer id, then resolves by logical name
            idnames: dict[int, str] = {}

            def walk(dt, where):
                if isinstance(dt, T.StructType):
                    for f in dt.fields:
                        fid = (f.metadata or {}).get(_ID_KEY)
                        if fid is None:
                            raise ValueError(
                                "column mapping mode 'id' but field "
                                f"{where}{f.name!r} carries no "
                                "delta.columnMapping.id"
                            )
                        idnames[int(fid)] = f.name
                        walk(f.dataType, f"{where}{f.name}.")
                elif isinstance(dt, T.ArrayType):
                    walk(dt.elementType, where)
                elif isinstance(dt, T.MapType):
                    walk(dt.keyType, where)
                    walk(dt.valueType, where)

            walk(table_schema, "")
            self._idnames = idnames
        # physical partitionValues key per logical partition column
        self._part_phys = {
            c: (cmap or {}).get(c, c) for c in self._part_cols
        }
        if "startingversion" in options:
            self._starting = int(options["startingversion"])
        else:
            commits = _list_log(self._path)
            self._starting = (commits[0] - 1) if commits else -1
        from pyspark.sql.pandas.types import to_arrow_schema

        data_fields = [
            f for f in schema.fields if f.name != VERSION_COL
        ]
        self._data_schema = StructType(data_fields)
        self._arrow_schema = to_arrow_schema(
            StructType(
                [f for f in data_fields if f.name not in self._part_cols]
            )
        )
        self._part_types = {
            f.name: f for f in data_fields if f.name in self._part_cols
        }

    # -- offsets: {"version": N} == all versions <= N consumed
    def initialOffset(self) -> dict:
        return {"version": self._starting}

    def latestOffset(self) -> dict:
        commits = _list_log(self._path)
        latest = commits[-1] if commits else self._starting
        return {"version": max(latest, self._starting)}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["version"], end["version"]
        have = set(_list_log(self._path))
        parts: list[_DeltaFilePartition] = []
        root = _local(self._path)
        for v in range(lo + 1, hi + 1):
            if v not in have:
                raise ValueError(
                    f"deltalog stream needs version {v} but its commit "
                    "JSON is not retained (vacuumed past the cursor)"
                )
            actions = _read_commit(self._path, v)
            adds = [a["add"] for a in actions if "add" in a]
            removes = [a for a in actions if "remove" in a]
            data_adds = [a for a in adds if a.get("dataChange", True)]
            cdcs = [a["cdc"] for a in actions if "cdc" in a]
            if cdcs:
                # CHANGE DATA FEED commit (round 12): the cdc files name
                # the committed changes exactly — stream the NEW row
                # versions (insert / update_postimage) once, never the
                # carried-over rows, so DML commits tail exactly-once
                # without allowRewrites
                for c in cdcs:
                    full = _full_path(root, c["path"])
                    pv = {}
                    raw_pv = c.get("partitionValues") or {}
                    for col in self._part_cols:
                        val = raw_pv.get(
                            self._part_phys[col], raw_pv.get(col)
                        )
                        pv[col] = (
                            None
                            if val is None or val == _NULL_PARTITION
                            else val
                        )
                    parts.append(
                        _DeltaFilePartition(
                            _local(full),
                            v,
                            cmap=self._cmap,
                            idnames=self._idnames,
                            partition_values=pv,
                            cdc_types=["insert", "update_postimage"],
                        )
                    )
                continue
            if not data_adds:
                continue  # metadata/protocol-only or compaction
            if removes and not self._allow_rewrites:
                op = next(
                    (
                        a["commitInfo"].get("operation")
                        for a in actions
                        if "commitInfo" in a
                    ),
                    "REWRITE",
                )
                raise ValueError(
                    f"version {v} is a {op!r} commit; its files mix "
                    "rewritten and carried-over rows — set "
                    ".option('allowRewrites', 'true') for at-least-once "
                    "semantics"
                )
            for a in data_adds:
                full = _full_path(root, a["path"])
                dv_pos = None
                if a.get("deletionVector"):
                    from simple_data_workflow_spark.sources.delta_dv import (
                        read_dv_positions,
                    )

                    def _rb(p):
                        with open(_local(p), "rb") as fh:
                            return fh.read()

                    dv_pos = [
                        int(x)
                        for x in read_dv_positions(
                            _rb, root, a["deletionVector"]
                        )
                    ]
                pv = {}
                raw_pv = a.get("partitionValues") or {}
                for c in self._part_cols:
                    val = raw_pv.get(self._part_phys[c], raw_pv.get(c))
                    pv[c] = (
                        None
                        if val is None or val == _NULL_PARTITION
                        else val
                    )
                parts.append(
                    _DeltaFilePartition(
                        _local(full),
                        v,
                        cmap=self._cmap,
                        idnames=self._idnames,
                        partition_values=pv,
                        dv_positions=dv_pos,
                    )
                )
        return parts

    def read(self, partition: _DeltaFilePartition):
        # runs in a Python worker: pyarrow only, no SparkSession
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pq.read_table(partition.file_path)
        if partition.cdc_types:
            import pyarrow.compute as pc

            tbl = tbl.filter(
                pc.is_in(
                    tbl.column("_change_type"),
                    value_set=pa.array(partition.cdc_types),
                )
            )
            tbl = tbl.drop_columns(["_change_type"])
        # id-mode resolution at EVERY nesting level: the file's fields
        # RENAME to their logical names by footer field id (a schema
        # cast — positional, so values never move), then columns
        # resolve by logical name. Files without id metadata fall back
        # to physical names, the same fallback Spark's fieldId path
        # applies.
        renamed = False
        if partition.idnames:
            idn = partition.idnames

            def fid_of(f):
                v = (f.metadata or {}).get(b"PARQUET:field_id")
                return int(v) if v is not None else None

            def _nm(f):
                fid = fid_of(f)
                return idn.get(fid, f.name) if fid is not None else f.name

            def rename_type(t):
                """The type with every nested field renamed to its
                logical name by footer field id — recursing through
                struct, list, large_list, fixed_size_list AND map
                (ADVICE r11: struct-only recursion left structs inside
                arrays/maps under physical names, so the later
                by-name cast either failed or silently null-filled)."""
                if pa.types.is_struct(t):
                    return pa.struct(
                        [
                            pa.field(
                                _nm(t.field(i)),
                                rename_type(t.field(i).type),
                                t.field(i).nullable,
                            )
                            for i in range(t.num_fields)
                        ]
                    )
                if pa.types.is_map(t):
                    kf, vf = t.key_field, t.item_field
                    return pa.map_(
                        pa.field(_nm(kf), rename_type(kf.type), False),
                        pa.field(
                            _nm(vf), rename_type(vf.type), vf.nullable
                        ),
                    )
                if pa.types.is_list(t) or pa.types.is_large_list(t):
                    vf = t.value_field
                    inner = pa.field(
                        _nm(vf), rename_type(vf.type), vf.nullable
                    )
                    return (
                        pa.large_list(inner)
                        if pa.types.is_large_list(t)
                        else pa.list_(inner)
                    )
                if pa.types.is_fixed_size_list(t):
                    vf = t.value_field
                    return pa.list_(
                        pa.field(_nm(vf), rename_type(vf.type), vf.nullable),
                        t.list_size,
                    )
                return t

            def fix(arr, field):
                """(array, field) renamed to logical names by footer
                field id — a pure TYPE change over identical buffers,
                so the whole rename is one zero-copy ``view`` at every
                nesting level (values never move)."""
                name = _nm(field)
                nt = rename_type(field.type)
                if nt != field.type:
                    if isinstance(arr, pa.ChunkedArray):
                        arr = pa.chunked_array(
                            [c.view(nt) for c in arr.chunks] or [], nt
                        )
                    else:
                        arr = arr.view(nt)
                return arr, pa.field(name, nt, field.nullable)

            if any(fid_of(f) is not None for f in tbl.schema):
                cols_, flds_ = [], []
                for i, f in enumerate(tbl.schema):
                    a, nf = fix(tbl.column(i), f)
                    cols_.append(a)
                    flds_.append(nf)
                tbl = pa.Table.from_arrays(cols_, schema=pa.schema(flds_))
                renamed = True
        cols = []
        for f in self._arrow_schema:
            src = (
                f.name
                if renamed
                else (partition.cmap or {}).get(f.name, f.name)
            )
            if src in tbl.column_names:
                cols.append(tbl.column(src).cast(f.type))
            else:
                cols.append(pa.nulls(tbl.num_rows, f.type))
        out = pa.Table.from_arrays(cols, schema=self._arrow_schema)
        if partition.dv_positions:
            keep = np.ones(out.num_rows, dtype=bool)
            dead = np.asarray(partition.dv_positions, dtype=np.int64)
            keep[dead[dead < out.num_rows]] = False
            out = out.filter(pa.array(keep))
        # partition columns inject as constants, cast to schema types
        from pyspark.sql.pandas.types import to_arrow_type

        for c in self._part_cols:
            f = self._part_types[c]
            at = to_arrow_type(f.dataType)
            v = partition.partition_values.get(c)
            if v is None:
                col = pa.nulls(out.num_rows, at)
            else:
                col = pa.repeat(
                    pa.scalar(v, pa.string()), out.num_rows
                ).cast(at)
            out = out.append_column(c, col)
        out = out.append_column(
            VERSION_COL,
            pa.repeat(pa.scalar(partition.version, pa.int64()), out.num_rows),
        )
        yield from out.to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint

    def stop(self) -> None:
        pass


class DeltaLogStreamDataSource(DataSource):
    """``format("deltalog")``: streaming reads of a spec-conformant
    Delta table without the Delta jar. Register with
    ``spark.dataSource.register(DeltaLogStreamDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "deltalog"

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError("deltalog source requires .option('path', ...)")
        meta = _latest_meta(path)
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        from pyspark.sql.types import LongType, StructField

        # strip column-mapping metadata (physical resolution is the
        # reader's concern) and append the version tag
        clean = StructType(
            [
                StructField(f.name, f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        return clean.add(StructField(VERSION_COL, LongType()))

    def streamReader(self, schema: StructType) -> DeltaStreamReader:
        return DeltaStreamReader(schema, dict(self.options))
