"""Jar-free Apache Iceberg WRITE interop (round 10).

Companion to ``sources.iceberg_reader``: the Iceberg table layout is a
public, documented spec (iceberg.apache.org/spec), so WRITING a
spec-conformant v1 table needs no Iceberg runtime jar either — stage
plain parquet data files with Spark's own distributed writer (with
``parquet.field.id`` footer metadata, the resolution rule Iceberg
readers use), then publish the metadata chain driver-side:

  data files → manifest (Avro) → manifest list (Avro)
             → ``metadata/v<N>.metadata.json`` + ``version-hint.text``

The Avro files are written through the REFERENCE ``org.apache.avro``
implementation already on Spark's classpath (via the JVM gateway), the
same way the reader decodes them — spec fidelity without shipping a
codec. Field-ids ride as ``field-id`` attributes in the Avro schemas
and as ``PARQUET:field_id`` in the data-file footers, so a real
Iceberg runtime resolves columns exactly as it would for its own
tables.

What this writer emits (format-version 1):

- ``create`` / ``append`` / ``overwrite`` modes; appends reuse prior
  manifests in the new manifest list (no rewrite), overwrites cut a
  fresh manifest list while older snapshots stay time-travelable.
- Optional IDENTITY partitioning: Hive-layout directories, partition
  values recorded per-file in the manifest's ``partition`` record
  (typed per the spec), and — per spec, unlike Delta — the partition
  columns stay IN the data files.
- Per-file ``record_count`` from the parquet footers (zero extra scan).
- Optimistic concurrency via if-absent metadata publication (the
  HadoopTables versioned-metadata convention): a lost race retries
  appends against the re-resolved table and raises for overwrites.

Scale posture: data movement is Spark's normal distributed parquet
write; everything after it is metadata-sized and driver-side (bytes ∝
files written, never data) — the same planning-phase cost any Iceberg
writer pays.
"""

from __future__ import annotations

import json
import re
import time
import urllib.parse
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from simple_data_workflow_spark.sources.iceberg_reader import (
    IcebergFeatureUnsupported,
    _avro_records,
    _current_schema,
    _get,
    _j2py,
    _local_path,
    load_table_metadata,
)
from simple_data_workflow_spark.sources import tablefs
from simple_data_workflow_spark.smalldf import small_df


class IcebergConcurrentWrite(RuntimeError):
    """Another writer committed the metadata version this write targeted."""


class IcebergSchemaMismatch(ValueError):
    """Append schema is incompatible with the table schema."""


# ---------------------------------------------------------------------------
# Spark ↔ Iceberg schema (with field-id assignment)
# ---------------------------------------------------------------------------

_PRIM = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.DateType: "date",
    T.TimestampType: "timestamptz",
    T.TimestampNTZType: "timestamp",
    T.StringType: "string",
    T.BinaryType: "binary",
}


def _iceberg_type(dt: T.DataType, alloc) -> object:
    """Spark type → Iceberg schema-JSON type; ``alloc()`` hands out the
    next field id (spec: every nested field/element/key/value has one)."""
    cls = type(dt)
    if cls in _PRIM:
        return _PRIM[cls]
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = alloc()
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _iceberg_type(f.dataType, alloc),
                }
            )
        return {"type": "struct", "fields": fields}
    if isinstance(dt, T.ArrayType):
        eid = alloc()
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type(dt.elementType, alloc),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        kid, vid = alloc(), alloc()
        return {
            "type": "map",
            "key-id": kid,
            "key": _iceberg_type(dt.keyType, alloc),
            "value-id": vid,
            "value": _iceberg_type(dt.valueType, alloc),
            "value-required": not dt.valueContainsNull,
        }
    raise IcebergFeatureUnsupported(
        f"Spark type {dt.simpleString()} has no Iceberg v1 mapping in "
        "the jar-free writer"
    )


def _build_schema(spark_schema: T.StructType) -> tuple[dict, int]:
    """Iceberg schema JSON (ids assigned spec-style: top-level fields
    first 1..n, then nested, via a single allocator) + last column id."""
    counter = {"n": 0}

    def alloc():
        counter["n"] += 1
        return counter["n"]

    # spec convention: top-level fields get the first ids, nested
    # structures allocate afterwards
    top = [(alloc(), f) for f in spark_schema.fields]
    fields = []
    for fid, f in top:
        fields.append(
            {
                "id": fid,
                "name": f.name,
                "required": not f.nullable,
                "type": _iceberg_type(f.dataType, alloc),
            }
        )
    return (
        {"type": "struct", "schema-id": 0, "fields": fields},
        counter["n"],
    )


def _field_id_spark_schema(schema: T.StructType, ice_schema: dict) -> T.StructType:
    """Attach each top-level (and nested struct) field's Iceberg id as
    ``parquet.field.id`` metadata so Spark's parquet writer stamps the
    footers — the resolution key real Iceberg readers use."""

    def apply(dt: T.DataType, ice_t) -> T.DataType:
        if isinstance(dt, T.StructType) and isinstance(ice_t, dict):
            by_name = {f["name"]: f for f in ice_t.get("fields", [])}
            out = []
            for f in dt.fields:
                inf = by_name.get(f.name)
                meta = {"parquet.field.id": int(inf["id"])} if inf else {}
                out.append(
                    T.StructField(
                        f.name,
                        apply(f.dataType, (inf or {}).get("type")),
                        f.nullable,
                        meta,
                    )
                )
            return T.StructType(out)
        if isinstance(dt, T.ArrayType) and isinstance(ice_t, dict):
            return T.ArrayType(
                apply(dt.elementType, ice_t.get("element")), dt.containsNull
            )
        if isinstance(dt, T.MapType) and isinstance(ice_t, dict):
            return T.MapType(
                apply(dt.keyType, ice_t.get("key")),
                apply(dt.valueType, ice_t.get("value")),
                dt.valueContainsNull,
            )
        return dt

    return apply(schema, ice_schema)


# ---------------------------------------------------------------------------
# Avro writing (reference org.apache.avro via the JVM gateway)
# ---------------------------------------------------------------------------

# manifest_entry schema (spec "Manifests"); field-id attributes are
# how Iceberg stamps its ids into Avro schemas. block_size_in_bytes is
# deprecated-but-required in v1 (dropped in v2); v2 adds per-entry
# sequence numbers (null on ADDED entries = inherit from the manifest
# list) and the data_file ``content`` discriminator.
def _manifest_entry_schema_json(
    partition_fields: list[dict], format_version: int = 1
) -> str:
    part_fields = [
        {
            "name": p["name"],
            "type": ["null", p["avro_type"]],
            "default": None,
            "field-id": p["field_id"],
        }
        for p in partition_fields
    ]
    entry_fields = [
        {"name": "status", "type": "int", "field-id": 0},
        {
            "name": "snapshot_id",
            "type": ["null", "long"],
            "default": None,
            "field-id": 1,
        },
    ]
    df_fields = [
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {
            "name": "partition",
            "type": {
                "type": "record",
                "name": "r102",
                "fields": part_fields,
            },
            "field-id": 102,
        },
        {"name": "record_count", "type": "long", "field-id": 103},
        {
            "name": "file_size_in_bytes",
            "type": "long",
            "field-id": 104,
        },
    ]
    if format_version >= 2:
        entry_fields.extend(
            [
                {
                    "name": "sequence_number",
                    "type": ["null", "long"],
                    "default": None,
                    "field-id": 3,
                },
                {
                    "name": "file_sequence_number",
                    "type": ["null", "long"],
                    "default": None,
                    "field-id": 4,
                },
            ]
        )
        df_fields.insert(
            0, {"name": "content", "type": "int", "field-id": 134}
        )
        df_fields.append(
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int"}],
                "default": None,
                "field-id": 135,
            }
        )
        if format_version >= 3:
            # v3 row lineage: a data file's explicit first_row_id
            # (null = inherit from the manifest list — spec field 142)
            df_fields.append(
                {
                    "name": "first_row_id",
                    "type": ["null", "long"],
                    "default": None,
                    "field-id": 142,
                }
            )
            # v3 deletion-vector addressing (spec field ids 143-145)
            df_fields.extend(
                [
                    {
                        "name": "referenced_data_file",
                        "type": ["null", "string"],
                        "default": None,
                        "field-id": 143,
                    },
                    {
                        "name": "content_offset",
                        "type": ["null", "long"],
                        "default": None,
                        "field-id": 144,
                    },
                    {
                        "name": "content_size_in_bytes",
                        "type": ["null", "long"],
                        "default": None,
                        "field-id": 145,
                    },
                ]
            )
    else:
        df_fields.append(
            {
                "name": "block_size_in_bytes",
                "type": "long",
                "field-id": 105,
            }
        )
    entry_fields.append(
        {
            "name": "data_file",
            "type": {"type": "record", "name": "r2", "fields": df_fields},
            "field-id": 2,
        }
    )
    return json.dumps(
        {
            "type": "record",
            "name": "manifest_entry",
            "fields": entry_fields,
        }
    )


def _manifest_file_schema_json(format_version: int = 1) -> str:
    fields = [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {
            "name": "added_snapshot_id",
            "type": ["null", "long"],
            "default": None,
            "field-id": 503,
        },
        {
            "name": "added_data_files_count",
            "type": ["null", "int"],
            "default": None,
            "field-id": 504,
        },
        {
            "name": "existing_data_files_count",
            "type": ["null", "int"],
            "default": None,
            "field-id": 505,
        },
        {
            "name": "deleted_data_files_count",
            "type": ["null", "int"],
            "default": None,
            "field-id": 506,
        },
    ]
    if format_version >= 2:
        # v2 required: the manifest's content kind and sequence bounds
        fields[3:3] = [
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {
                "name": "min_sequence_number",
                "type": "long",
                "field-id": 516,
            },
        ]
    if format_version >= 3:
        # v3 row lineage: the starting row id assigned to the
        # manifest's data files (spec field-id 520)
        fields.append(
            {
                "name": "first_row_id",
                "type": ["null", "long"],
                "default": None,
                "field-id": 520,
            }
        )
    return json.dumps(
        {"type": "record", "name": "manifest_file", "fields": fields}
    )


_MANIFEST_FILE_SCHEMA_JSON = _manifest_file_schema_json(1)


def _avro_json_value(ftype, v):
    """Python value → Avro JSON-encoding value for ``ftype`` (the
    python-parsed schema node). Unions wrap non-null branches as
    ``{"<branch name>": value}`` per the Avro spec's JSON encoding."""
    if isinstance(ftype, list):  # union
        if v is None:
            return None
        branch = next(t for t in ftype if t != "null")
        if isinstance(branch, str):
            key = branch
        else:
            key = branch.get("name") or branch["type"]
        return {key: _avro_json_value(branch, v)}
    if isinstance(ftype, dict) and ftype.get("type") == "record":
        return {
            f["name"]: _avro_json_value(f["type"], (v or {}).get(f["name"]))
            for f in ftype["fields"]
        }
    return v


def _write_avro(
    spark: SparkSession,
    path: str,
    schema_json: str,
    rows: list[dict],
    meta: dict[str, str] | None = None,
) -> int:
    """Write one Avro object-container file through the reference
    implementation; returns its byte length. Rows cross the py4j
    boundary as Avro-JSON and are decoded by the reference
    ``jsonDecoder`` — the SCHEMA fixes every numeric width, so py4j's
    int-vs-long boxing ambiguity (which made small values in
    ``["null","long"]`` unions unresolvable) cannot corrupt types. The
    file is built in memory (manifests are metadata-sized) and written
    through ``tablefs``."""
    jvm = spark._jvm
    schema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    py_schema = json.loads(schema_json)
    reader = jvm.org.apache.avro.generic.GenericDatumReader(schema)

    def to_rec(d: dict):
        body = json.dumps(_avro_json_value(py_schema, d))
        dec = jvm.org.apache.avro.io.DecoderFactory.get().jsonDecoder(
            schema, body
        )
        return reader.read(None, dec)

    writer = jvm.org.apache.avro.generic.GenericDatumWriter(schema)
    dfw = jvm.org.apache.avro.file.DataFileWriter(writer)
    for k, val in (meta or {}).items():
        dfw.setMeta(k, val)
    out = jvm.java.io.ByteArrayOutputStream()
    dfw.create(schema, out)
    try:
        for r in rows:
            dfw.append(to_rec(r))
    finally:
        dfw.close()
    data = bytes(out.toByteArray())
    tablefs.write_file(spark, path, data)
    return len(data)


# ---------------------------------------------------------------------------
# staging + partition handling
# ---------------------------------------------------------------------------

_PART_AVRO = {
    "int": "int",
    "long": "long",
    "string": "string",
    "date": "int",  # spec: date partition values are days-from-epoch ints
}

_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"


def _partition_fields(
    ice_schema: dict, partition_by: list[str]
) -> list[dict]:
    """Identity partition spec fields: source-id from the table schema,
    partition field-ids from 1000 (spec convention)."""
    by_name = {f["name"]: f for f in ice_schema["fields"]}
    out = []
    for i, name in enumerate(partition_by):
        src = by_name.get(name)
        if src is None:
            raise ValueError(f"partition column {name!r} not in schema")
        ice_t = src["type"]
        if not isinstance(ice_t, str) or ice_t not in _PART_AVRO:
            raise IcebergFeatureUnsupported(
                f"identity partitioning on type {ice_t!r} is not "
                "supported by the jar-free writer (int/long/string/date)"
            )
        out.append(
            {
                "name": name,
                "transform": "identity",
                "source_id": src["id"],
                "field_id": 1000 + i,
                "ice_type": ice_t,
                "avro_type": _PART_AVRO[ice_t],
            }
        )
    return out


def _coerce_part_value(v: str | None, ice_type: str):
    if v is None:
        return None
    if ice_type in ("int", "long"):
        return int(v)
    if ice_type == "date":
        import datetime as _dt

        return (_dt.date.fromisoformat(v) - _dt.date(1970, 1, 1)).days
    return v


def _stage_data_files(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    scan_schema: T.StructType,
) -> list[dict]:
    """Distributed parquet write into a dot-staging dir, then move each
    task file into ``data/`` (Hive partition layout preserved) and
    return per-file info. Iceberg data files KEEP partition columns, so
    partitioning writes through duplicated ``__icepart_*`` shadows that
    Spark strips into directory names while the real columns stay in
    the files."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    # stamp ids via cast+alias, NOT DataFrame.to(): .to() elides
    # no-op columns (silently dropping their metadata) and poisons
    # later alias stamps; a cast to the metadata-carrying target type
    # stamps nested struct ids, and the alias stamps the top level
    df = df.select(
        *[
            F.col(f.name)
            .cast(f.dataType)
            .alias(f.name, metadata=dict(f.metadata or {}))
            for f in scan_schema.fields
        ]
    )
    shadows = []
    for c in partition_by:
        sh = f"__icepart_{c}"
        df = df.withColumn(sh, F.col(c))
        shadows.append(sh)
    staging = f"{path}/.staging-{uuid.uuid4().hex}"
    writer = df.write.mode("overwrite")
    if shadows:
        writer = writer.partitionBy(*shadows)
    writer.parquet(staging)
    # names read off the disk join decoded roots (see tablefs.staged_files)
    table_root = tablefs.local_root(path) or path
    src = tablefs.local_root(staging) or staging

    files = []
    for rel, flen, _ in tablefs.staged_files(spark, staging):
        if not rel.endswith(".parquet"):
            continue
        segs = rel.split("/")
        name = segs[-1]
        pv: dict[str, str | None] = {}
        clean_segs = []
        for seg in segs[:-1]:
            if "=" in seg:
                k, _, v = seg.partition("=")
                k = urllib.parse.unquote(k)
                if k.startswith("__icepart_"):
                    k = k[len("__icepart_") :]
                pv[k] = None if v == _NULL_DIR else urllib.parse.unquote(v)
                clean_segs.append(f"{k}={v}")
            else:
                clean_segs.append(seg)
        dest_rel = "/".join(["data", *clean_segs, name])
        dest = f"{table_root}/{dest_rel}"
        tablefs.move(spark, f"{src}/{rel}", dest)
        try:
            import pyarrow.parquet as pq

            nrec = pq.ParquetFile(dest).metadata.num_rows
        except Exception:
            nrec = df.sparkSession.read.parquet(dest).count()
        files.append(
            {
                # manifests record the path under the TABLE ROOT as the
                # caller spelled it (scheme preserved on remote roots)
                "path": f"{path}/{dest_rel}",
                "size": int(flen),
                "record_count": int(nrec),
                "partition_values": pv,
            }
        )
    tablefs.remove(spark, staging, recursive=True)
    return files


# ---------------------------------------------------------------------------
# the writer
# ---------------------------------------------------------------------------


def _publish_metadata_if_absent(
    spark: SparkSession, path: str, version: int, body: str
) -> bool:
    """HadoopTables convention: ``metadata/v<N>.metadata.json`` is the
    commit point — publish if-absent (``tablefs.publish_if_absent``),
    then best-effort update ``version-hint.text``."""
    won = tablefs.publish_if_absent(
        spark, f"{path}/metadata", f"v{version}.metadata.json",
        body.encode("utf-8"),
    )
    if won:
        tablefs.write_file(
            spark, f"{path}/metadata/version-hint.text", str(version).encode()
        )
    return won


def _publish_next_metadata(spark: SparkSession, path: str, meta: dict) -> bool:
    """Publish ``meta`` at the next metadata version: one past the
    highest ``v<N>.metadata.json`` under ``metadata/`` (1 on a new
    table). Returns False when another writer took that version."""
    version = 1
    for name in tablefs.list_dir(spark, f"{path}/metadata") or []:
        m = re.match(r"v(\d+)\.metadata\.json", name)
        if m:
            version = max(version, int(m.group(1)) + 1)
    return _publish_metadata_if_absent(
        spark, path, version, json.dumps(meta, indent=2)
    )


def _current_manifests(spark: SparkSession, path: str, meta: dict) -> list[dict]:
    """The current snapshot's manifest-list entries (reused verbatim by
    appends and DML — Iceberg never rewrites prior manifests). v2
    fields (content/sequence bounds) carry through when present so
    reused manifests keep their original sequence numbers."""
    snaps = meta.get("snapshots") or []
    cur = meta.get("current-snapshot-id")
    snap = next((s for s in snaps if s["snapshot-id"] == cur), None)
    if snap is None:
        return []
    out = []
    for r in _avro_records(spark, _local_path(str(snap["manifest-list"]))):
        d = {
            "manifest_path": _j2py(_get(r, "manifest_path")),
            "manifest_length": int(_get(r, "manifest_length") or 0),
            "partition_spec_id": int(_get(r, "partition_spec_id") or 0),
            "added_snapshot_id": _j2py(_get(r, "added_snapshot_id")),
            "added_data_files_count": _j2py(
                _get(r, "added_data_files_count")
            ),
            "existing_data_files_count": _j2py(
                _get(r, "existing_data_files_count")
            ),
            "deleted_data_files_count": _j2py(
                _get(r, "deleted_data_files_count")
            ),
        }
        if int(meta.get("format-version", 1)) >= 2:
            d["content"] = int(_get(r, "content") or 0)
            d["sequence_number"] = int(_get(r, "sequence_number") or 0)
            mseq = _get(r, "min_sequence_number")
            d["min_sequence_number"] = (
                int(mseq) if mseq is not None else d["sequence_number"]
            )
        if int(meta.get("format-version", 1)) >= 3:
            try:
                d["first_row_id"] = _j2py(_get(r, "first_row_id"))
            except Exception:
                d["first_row_id"] = None  # pre-lineage manifest list
        out.append(d)
    return out


def _schema_types(schema: T.StructType) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in schema.fields}


def iceberg_write(
    df: DataFrame,
    path: str,
    mode: str = "error",
    partition_by: list[str] | None = None,
    format_version: int = 2,
    stage_only: bool = False,
    _retries: int = 5,
) -> int:
    """Write ``df`` as a spec-conformant Iceberg table without the
    runtime jar; returns the committed snapshot id. New tables default
    to format-version 2 (what real runtimes write — sequence-numbered
    snapshots, row-level-delete capable); ``format_version=1`` emits
    the older layout. Writes to an existing table adopt ITS version.

    ``mode``: ``error`` (create; fail if the table exists), ``append``
    (schema must match by name+type; partition spec inherited),
    ``overwrite`` (replace contents — older snapshots stay readable via
    snapshot-id time travel). Appends that lose the metadata-version
    race re-resolve and retry; overwrites raise
    ``IcebergConcurrentWrite``.

    ``stage_only=True`` is write-audit-publish: the snapshot commits
    into the log but ``current-snapshot-id`` does not move — audit it
    via snapshot-id time travel, then ``iceberg_cherry_pick`` publishes
    it (or ``iceberg_expire_snapshots`` eventually collects it).
    """
    if mode not in ("error", "append", "overwrite"):
        raise ValueError(f"unsupported mode {mode!r}")
    if format_version not in (1, 2, 3):
        raise IcebergFeatureUnsupported(
            f"format-version {format_version} writes are not supported "
            "(v1/v2/v3 only)"
        )
    spark = df.sparkSession
    try:
        cur_meta = load_table_metadata(spark, path)
        exists = True
    except FileNotFoundError:
        cur_meta, exists = None, False
    if exists and mode == "error":
        raise ValueError(f"Iceberg table already exists at {path} (mode='error')")

    if exists:
        format_version = int(cur_meta.get("format-version", 1))
        if format_version not in (1, 2, 3):
            raise IcebergFeatureUnsupported(
                "the jar-free writer only writes format-version 1/2/3 "
                "tables"
            )
        ice_schema = _current_schema(cur_meta)
        last_col_id = int(cur_meta.get("last-column-id", 0))
        spec_fields = [
            {
                "name": p["name"],
                "transform": p["transform"],
                "source_id": p["source-id"],
                "field_id": p["field-id"],
            }
            for p in (cur_meta.get("partition-spec") or [])
        ]
        by_name = {f["name"]: f for f in ice_schema["fields"]}
        for p in spec_fields:
            ice_t = by_name[p["name"]]["type"]
            p["ice_type"] = ice_t
            p["avro_type"] = _PART_AVRO[ice_t]
        table_parts = [p["name"] for p in spec_fields]
        if partition_by is None:
            partition_by = table_parts
        elif list(partition_by) != table_parts and mode == "append":
            raise IcebergSchemaMismatch(
                f"append partition spec {partition_by} != table spec {table_parts}"
            )
        from simple_data_workflow_spark.sources.iceberg_reader import (
            _schema_and_ids,
        )

        table_schema, _ids = _schema_and_ids(cur_meta)
        if _schema_types(table_schema) != _schema_types(df.schema):
            raise IcebergSchemaMismatch(
                "write schema differs from the table schema "
                f"({_schema_types(table_schema)} vs {_schema_types(df.schema)})"
            )
        df = df.select(*[f.name for f in table_schema.fields])
        table_uuid = cur_meta.get("table-uuid") or str(uuid.uuid4())
    else:
        ice_schema, last_col_id = _build_schema(df.schema)
        partition_by = list(partition_by or [])
        spec_fields = _partition_fields(ice_schema, partition_by)
        table_uuid = str(uuid.uuid4())
    partition_by = list(partition_by or [])
    # the spec id this write's manifests are stamped with: the table's
    # DEFAULT spec (evolved tables keep their history; new tables = 0)
    spec_id = int((cur_meta or {}).get("default-spec-id") or 0)

    scan_schema = _field_id_spark_schema(df.schema, ice_schema)
    files = _stage_data_files(df, path, partition_by, scan_schema)

    for attempt in range(_retries):
        now_ms = int(time.time() * 1000)
        snapshot_id = uuid.uuid4().int % (2**62)
        md_uuid = uuid.uuid4().hex
        fv = format_version
        # v2 sequence numbers: one per commit, monotonically increasing
        seq = (
            int((cur_meta or {}).get("last-sequence-number", 0)) + 1
            if fv >= 2
            else None
        )
        # --- manifest ---
        entry_schema = _manifest_entry_schema_json(spec_fields, fv)
        rows = []
        for f in files:
            part_rec = {
                p["name"]: _coerce_part_value(
                    f["partition_values"].get(p["name"]), p["ice_type"]
                )
                for p in spec_fields
            }
            data_file = {
                "file_path": f["path"],
                "file_format": "PARQUET",
                "partition": part_rec,
                "record_count": f["record_count"],
                "file_size_in_bytes": f["size"],
            }
            row = {
                "status": 1,  # ADDED
                "snapshot_id": snapshot_id,
                "data_file": data_file,
            }
            if fv >= 2:
                data_file["content"] = 0  # DATA
                data_file["equality_ids"] = None
                # null on ADDED entries = inherit from the manifest list
                row["sequence_number"] = None
                row["file_sequence_number"] = None
                if fv >= 3:
                    # null = inherit from the manifest list's
                    # first_row_id + preceding record counts (spec)
                    data_file["first_row_id"] = None
            else:
                data_file["block_size_in_bytes"] = 67108864
            rows.append(row)
        spec_json = json.dumps(
            [
                {
                    "name": p["name"],
                    "transform": p["transform"],
                    "source-id": p["source_id"],
                    "field-id": p["field_id"],
                }
                for p in spec_fields
            ]
        )
        manifest_path = f"{path}/metadata/{md_uuid}-m0.avro"
        mlen = _write_avro(
            spark,
            manifest_path,
            entry_schema,
            rows,
            meta={
                "schema": json.dumps(ice_schema),
                "partition-spec": spec_json,
                "partition-spec-id": str(spec_id),
                "format-version": str(fv),
                "content": "data",
            },
        )
        # --- manifest list ---
        manifests = []
        if mode == "append" and exists:
            manifests.extend(_current_manifests(spark, path, cur_meta))
        new_manifest = {
            "manifest_path": manifest_path,
            "manifest_length": mlen,
            "partition_spec_id": spec_id,
            "added_snapshot_id": snapshot_id,
            "added_data_files_count": len(files),
            "existing_data_files_count": 0,
            "deleted_data_files_count": 0,
        }
        if fv >= 2:
            new_manifest["content"] = 0
            new_manifest["sequence_number"] = seq
            new_manifest["min_sequence_number"] = seq
        first_row_id = None
        if fv >= 3:
            # v3 row lineage: this snapshot's rows get ids starting at
            # the table's next-row-id; next-row-id advances by the
            # added row count
            first_row_id = int((cur_meta or {}).get("next-row-id", 0))
            new_manifest["first_row_id"] = first_row_id
        manifests.append(new_manifest)
        mlist_path = f"{path}/metadata/snap-{snapshot_id}-1-{md_uuid}.avro"
        _write_avro(
            spark,
            mlist_path,
            _manifest_file_schema_json(fv),
            manifests,
            meta={"format-version": str(fv)},
        )
        # --- table metadata ---
        cur_schema_id = int((cur_meta or {}).get("current-schema-id", 0))
        schema_history = list((cur_meta or {}).get("schemas") or []) or [
            ice_schema
        ]
        snapshot = {
            "snapshot-id": snapshot_id,
            "timestamp-ms": now_ms,
            "summary": {
                "operation": "append" if mode != "overwrite" else "overwrite"
            },
            "manifest-list": mlist_path,
            "schema-id": cur_schema_id,
        }
        if fv >= 2:
            snapshot["sequence-number"] = seq
        if fv >= 3:
            snapshot["first-row-id"] = first_row_id
        prev_snaps = list((cur_meta or {}).get("snapshots") or [])
        if exists and (cur_meta or {}).get("current-snapshot-id") not in (
            None,
            -1,
        ):
            snapshot["parent-snapshot-id"] = cur_meta["current-snapshot-id"]
        meta_out = {
            "format-version": fv,
            "table-uuid": table_uuid,
            "location": path,
            "last-updated-ms": now_ms,
            "last-column-id": last_col_id,
            "schema": ice_schema,
            "schemas": schema_history,
            "current-schema-id": cur_schema_id,
            "partition-spec": [
                {
                    "name": p["name"],
                    "transform": p["transform"],
                    "source-id": p["source_id"],
                    "field-id": p["field_id"],
                }
                for p in spec_fields
            ],
            # partition-spec history: an evolved table keeps ALL its
            # specs and its default-spec-id (iceberg_update_spec); a
            # fresh table starts at spec-id 0
            "partition-specs": (
                list(cur_meta["partition-specs"])
                if exists and cur_meta.get("partition-specs")
                else [
                    {
                        "spec-id": 0,
                        "fields": [
                            {
                                "name": p["name"],
                                "transform": p["transform"],
                                "source-id": p["source_id"],
                                "field-id": p["field_id"],
                            }
                            for p in spec_fields
                        ],
                    }
                ]
            ),
            "default-spec-id": spec_id,
            "last-partition-id": max(
                [int((cur_meta or {}).get("last-partition-id") or 999)]
                + [p["field_id"] for p in spec_fields]
            ),
            # carry table properties and named refs (branches/tags)
            # through the rebuild — a write must never drop them
            "properties": dict((cur_meta or {}).get("properties") or {}),
            # stage_only = write-audit-publish: the snapshot lands in
            # the log (readable via snapshot-id time travel — the
            # AUDIT) but current does not move until iceberg_cherry_pick
            # PUBLISHES it
            "current-snapshot-id": (
                (cur_meta or {}).get("current-snapshot-id", -1)
                if stage_only
                else snapshot_id
            ),
            "snapshots": prev_snaps + [snapshot],
        }
        if (cur_meta or {}).get("refs"):
            meta_out["refs"] = dict(cur_meta["refs"])
        if fv >= 2:
            meta_out["last-sequence-number"] = seq
        if fv >= 3:
            meta_out["next-row-id"] = first_row_id + sum(
                int(f["record_count"]) for f in files
            )
            meta_out["row-lineage"] = True
        if _publish_next_metadata(spark, path, meta_out):
            return snapshot_id
        if mode != "append":
            raise IcebergConcurrentWrite(
                f"the next metadata version of {path} was committed by "
                "another writer; re-run the overwrite against the new table"
            )
        cur_meta = load_table_metadata(spark, path)
        exists = True
    raise IcebergConcurrentWrite(
        f"append to {path} lost the commit race {_retries} times"
    )


# ---------------------------------------------------------------------------
# row-level DML (round 11): DELETE via a position-delete snapshot —
# merge-on-read, the shape real v2 runtimes commit for deletes.
# ---------------------------------------------------------------------------

# spec "Position Delete Files": reserved field ids for the delete-file
# columns, stamped into the parquet footers so real readers resolve them
_POS_DELETE_FILE_PATH_ID = 2147483546
_POS_DELETE_POS_ID = 2147483545


def _table_spec(meta: dict) -> list[dict]:
    """The table's partition-spec fields enriched with their Iceberg
    and Avro types (the shape ``_manifest_entry_schema_json`` and the
    manifest-row builders expect) — from metadata only."""
    ice_schema = _current_schema(meta)
    by_name = {f["name"]: f for f in ice_schema["fields"]}
    spec_fields = []
    for p in meta.get("partition-spec") or []:
        ice_t = by_name[p["name"]]["type"]
        spec_fields.append(
            {
                "name": p["name"],
                "transform": p["transform"],
                "source_id": p["source-id"],
                "field_id": p["field-id"],
                "ice_type": ice_t,
                "avro_type": _PART_AVRO[ice_t],
            }
        )
    return spec_fields


def _live_lineage_scan(
    spark: SparkSession, path: str
) -> tuple[DataFrame | None, list[tuple[str, int]], T.StructType]:
    """The CURRENT snapshot's live rows with row lineage — the table
    columns plus ``__fp`` (normalized data-file path) and ``__ri``
    (position within the file) — for row-level DML to locate targets.
    Position deletes apply as a distributed anti-join; equality deletes
    per the spec's strictly-smaller sequence rule (same plan shape as
    ``iceberg_reader.iceberg_read``, with lineage carried through).
    Returns ``(None, data, schema)`` for an empty table. Fully
    distributed — nothing data-sized touches the driver."""
    from simple_data_workflow_spark.sources.iceberg_reader import (
        _by_name_resolution_sound,
        _id_schema,
        _load_dv_positions,
        _norm_path_col,
        _rename_detected,
        _schema_and_ids,
        _snapshot_files_and_deletes,
    )

    data, deletes, schema = _snapshot_files_and_deletes(spark, path)
    if not data:
        return None, data, schema
    meta = load_table_metadata(spark, path)
    _, ids = _schema_and_ids(meta)
    if _rename_detected(meta, ids) or not _by_name_resolution_sound(
        [f for f, _seq in data], ids
    ):
        # renamed column: resolve by field id, like iceberg_read
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        if any(
            isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType))
            for f in schema.fields
        ):
            # nested-schema pruning strips field-id metadata → NULLs
            spark.conf.set(
                "spark.sql.optimizer.nestedSchemaPruning.enabled", "false"
            )
        schema = _id_schema(schema, ids)
    pos_paths = [d["path"] for d in deletes if d["content"] == 1]
    eq_deletes = [d for d in deletes if d["content"] == 2]
    dv_positions = _load_dv_positions(
        spark, [d for d in deletes if d["content"] == 3]
    )

    def scan(flist: list[str]) -> DataFrame:
        if dv_positions:
            # v3 deletion vectors mask inside the scan so DML never
            # targets already-dead rows
            from simple_data_workflow_spark.sources.delta_reader import (
                _dv_masked_scan,
            )

            base = _dv_masked_scan(
                spark,
                schema,
                sorted(flist),
                dv_positions,
                file_col="__fp0",
                row_col="__ri",
            ).select(
                *[f.name for f in schema.fields],
                _norm_path_col(F.col("__fp0")).alias("__fp"),
                F.col("__ri"),
            )
        else:
            base = (
                spark.read.schema(schema)
                .parquet(*sorted(flist))
                .select(
                    "*",
                    _norm_path_col(F.col("_metadata.file_path")).alias(
                        "__fp"
                    ),
                    F.col("_metadata.row_index").alias("__ri"),
                )
            )
        if pos_paths:
            # delete files carry the manifests' decoded spellings while
            # base __fp is the scan spelling — map through a metadata-
            # sized both-spellings broadcast (same fix as iceberg_read's
            # anti-join path): a raw-string join would let prior deletes
            # in encoded partitions UN-mask during DML
            from simple_data_workflow_spark.sources.delta_reader import (
                _scan_spelling,
                _strip_scheme,
            )

            key_rows = {}
            for f in flist:
                enc = _scan_spelling(_strip_scheme(f))
                key_rows[_strip_scheme(f)] = enc
                key_rows[enc] = enc
            spellmap = small_df(
                spark, sorted(key_rows.items()), "__k string, __fp string"
            )
            dead = (
                # position-delete files are spec-shaped — fixing the
                # schema skips the footer-inference job per scan
                spark.read.schema("file_path string, pos long")
                .parquet(*sorted(pos_paths))
                .select(
                    _norm_path_col(F.col("file_path")).alias("__k"),
                    F.col("pos").cast("long").alias("__ri"),
                )
                .join(F.broadcast(spellmap), "__k")
                .select("__fp", "__ri")
            )
            base = base.join(dead, ["__fp", "__ri"], "left_anti")
        return base

    if not eq_deletes:
        return scan([f for f, _seq in data]), data, schema

    from functools import reduce

    id_to_name = {v: k for k, v in ids.items()}
    classes: dict[int, list[str]] = {}
    for f, seq in data:
        classes.setdefault(seq, []).append(f)
    parts = []
    types = {f.name: f for f in schema.fields}
    for seq in sorted(classes):
        part = scan(classes[seq])
        for d in eq_deletes:
            if d["seq"] <= seq:
                continue  # strictly-smaller rule: not applicable
            cols = [id_to_name[i] for i in d["equality_ids"]]
            # schema-resolved (id-stamped under a rename) like the reader
            deldf = (
                spark.read.schema(T.StructType([types[c] for c in cols]))
                .parquet(d["path"])
                .select(*cols)
            )
            cond = reduce(
                lambda a, b: a & b,
                [part[c].eqNullSafe(deldf[c]) for c in cols],
            )
            part = part.join(deldf, cond, "left_anti")
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out, data, schema


def _position_delete_frame(
    spark: SparkSession, matches: DataFrame, files: list[str]
) -> DataFrame:
    """The staged position-delete frame (``file_path``, ``pos``) —
    split out of :func:`_stage_position_deletes` so evidence tooling
    can ``explain`` exactly the plan the staging write executes."""
    from simple_data_workflow_spark.sources.delta_reader import (
        _scan_spelling,
    )

    # the matches' __fp carries the SCAN spelling (percent-encoded
    # special chars); manifests carry decoded paths — key the map by
    # BOTH spellings so no match is silently dropped (round-12 fix:
    # a space-valued partition under-deleted 41 rows at sf0.01)
    key_rows = {}
    for f in files:
        loc = _local_path(f)  # manifest spelling = on-disk literal
        key_rows[loc] = f
        key_rows[_scan_spelling(loc)] = f
    return (
        matches.join(
            F.broadcast(
                small_df(
                    spark,
                    sorted(key_rows.items()),
                    "__fp string, file_path string",
                )
            ),
            "__fp",
        )
        .select("file_path", F.col("__ri").alias("pos"))
        # spec order is per delete FILE (file_path, pos): clustering by
        # target path + an in-partition sort satisfies it without the
        # global sort's range-sampling pass (one extra job over the
        # matches), and each delete file then covers few targets — the
        # layout delete-file pruning wants (guide §2.4)
        .repartition(F.col("file_path"))
        .sortWithinPartitions("file_path", "pos")
    )


def _pos_delete_stage_cap(spark: SparkSession) -> int:
    """Max positions the packed driver-side delete staging may collect
    (~8 B/position + one path string per target file — the same budget
    rule as the reader's mask cap): heap/4096, env-overridable."""
    import os as _os

    raw = _os.environ.get("SPARK_GRAFT_POS_DELETE_STAGE_CAP")
    if raw is not None:
        try:
            return int(raw)
        except ValueError:
            pass
    from simple_data_workflow_spark.session import driver_memory_bytes

    return max(65536, driver_memory_bytes(spark) // 4096)


def _stage_position_deletes_packed(
    spark: SparkSession,
    path: str,
    matches: DataFrame,
    files: list[str],
) -> list[dict]:
    """Bounded-size fast path: the positions leave the cluster as ONE
    packed Arrow transfer (grouped per target file — ints never box)
    and the single spec-ordered delete file writes driver-side with
    pyarrow, skipping the repartition shuffle, the distributed staging
    write, the footer read-back and the rename loop (guide §1.2/§5 —
    the same posture as the v3 DV staging, which always packs)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_data_workflow_spark.sources.delta_reader import (
        _scan_spelling,
    )

    key_rows = {}
    for f in files:
        loc = _local_path(f)
        key_rows[loc] = f
        key_rows[_scan_spelling(loc)] = f
    packed = (
        matches.join(
            F.broadcast(
                small_df(
                    spark,
                    sorted(key_rows.items()),
                    "__fp string, file_path string",
                )
            ),
            "__fp",
        )
        .groupBy("file_path")
        .agg(F.collect_list("__ri").alias("pos"))
        .toArrow()
    )
    if packed.num_rows == 0:
        return []
    per_file = sorted(
        (
            str(fp),
            np.sort(
                plist.values.to_numpy(zero_copy_only=False).astype(np.int64)
            ),
        )
        for fp, plist in zip(
            packed.column("file_path").to_pylist(), packed.column("pos")
        )
    )
    # file_path is dictionary-encoded: each target path is held once,
    # plus a 4-byte index per position, as _pos_delete_stage_cap budgets
    file_path = pa.DictionaryArray.from_arrays(
        np.repeat(
            np.arange(len(per_file), dtype=np.int32),
            [len(pos) for _, pos in per_file],
        ),
        pa.array([fp for fp, _ in per_file], pa.string()),
    )
    schema = pa.schema(
        [
            pa.field(
                "file_path",
                file_path.type,
                nullable=False,
                metadata={b"PARQUET:field_id": str(_POS_DELETE_FILE_PATH_ID).encode()},
            ),
            pa.field(
                "pos",
                pa.int64(),
                nullable=False,
                metadata={b"PARQUET:field_id": str(_POS_DELETE_POS_ID).encode()},
            ),
        ]
    )
    tbl = pa.table(
        {
            "file_path": file_path,
            "pos": pa.array(np.concatenate([p for _, p in per_file]), pa.int64()),
        },
        schema=schema,
    )
    buf = pa.BufferOutputStream()
    pq.write_table(tbl, buf, compression="snappy")
    data = buf.getvalue().to_pybytes()
    dest = f"{path}/data/delete-{uuid.uuid4().hex}-packed.parquet"
    tablefs.write_file(spark, dest, data)
    return [{"path": dest, "size": len(data), "record_count": int(tbl.num_rows)}]


def _stage_position_deletes(
    spark: SparkSession,
    path: str,
    matches: DataFrame,
    files: list[str],
    n_hint: int | None = None,
) -> list[dict]:
    """Stage spec-shaped POSITION-DELETE parquet files for ``matches``
    (a DataFrame carrying ``__fp``/``__ri`` lineage columns): the
    normalized scan paths map back to the manifest's own spelling
    through a metadata-sized broadcast, rows sort by path then
    position, and the reserved delete-file field ids stamp into the
    footers. Returns the staged file dicts (empty when nothing
    matched); zero-row task files are dropped.

    Callers that already know the match count pass ``n_hint``; bounded
    sets take :func:`_stage_position_deletes_packed` (one Arrow
    transfer + driver-side write), unbounded/large ones keep the fully
    distributed staged write below."""
    if n_hint is not None and n_hint <= _pos_delete_stage_cap(spark):
        return _stage_position_deletes_packed(spark, path, matches, files)
    rows = _position_delete_frame(spark, matches, files)
    # alias(metadata=...) — DataFrame.to() drops metadata when names
    # and types already match, so it cannot stamp the reserved ids
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    rows = rows.select(
        F.col("file_path").alias(
            "file_path", metadata={"parquet.field.id": _POS_DELETE_FILE_PATH_ID}
        ),
        F.col("pos").alias(
            "pos", metadata={"parquet.field.id": _POS_DELETE_POS_ID}
        ),
    )
    return _stage_delete_files(spark, path, rows, "delete")


def _stage_delete_files(
    spark: SparkSession, path: str, rows: DataFrame, prefix: str
) -> list[dict]:
    """Write ``rows`` into a dot-staging dir, move each non-empty task
    file into ``data/`` as ``<prefix>-<uuid>-<task file>``, and return
    the staged file dicts; zero-row task files are dropped."""
    import pyarrow.parquet as pq

    staging = f"{path}/.staging-{uuid.uuid4().hex}"
    rows.write.mode("overwrite").parquet(staging)
    # names read off the disk join decoded roots (see tablefs.staged_files)
    src_root = tablefs.local_root(staging) or staging
    staged = []
    for name, size, _ in tablefs.staged_files(spark, staging):
        if not name.endswith(".parquet"):
            continue
        src = f"{src_root}/{name}"
        try:
            nrec = pq.ParquetFile(src).metadata.num_rows
        except Exception:
            nrec = spark.read.parquet(src).count()
        if nrec == 0:
            continue
        dest = f"{path}/data/{prefix}-{uuid.uuid4().hex}-{name}"
        tablefs.move(spark, src, dest)
        staged.append({"path": dest, "size": size, "record_count": int(nrec)})
    tablefs.remove(spark, staging, recursive=True)
    return staged


def _publish_dml_snapshot(
    spark: SparkSession,
    path: str,
    meta: dict,
    staged_adds: list[dict],
    staged_dels: list[dict],
    operation: str,
    spec_fields: list[dict],
    _retries: int = 5,
    replace_all: bool = False,
    _snapshot_id: int | None = None,
) -> int:
    """Publish ONE sequence-numbered snapshot carrying an optional DATA
    manifest (``staged_adds``) and an optional POSITION-DELETE manifest
    (``staged_dels``) on top of the current manifests — the commit
    shape shared by DELETE (deletes only), UPDATE and MERGE (deletes +
    adds in the SAME snapshot, so readers never see a half-applied
    edit). ``replace_all`` drops the current manifests instead
    (rewrite-data-files/compaction: the staged adds ARE the table). A
    lost metadata race re-resolves and retries: the staged files still
    name valid targets because prior data files are immutable —
    positionally sound, with LAST-WRITER-WINS semantics when two
    concurrent edits touch the same rows (the Delta CoW path instead
    recomputes its whole edit per attempt; Iceberg runtimes fail such
    conflicts under serializable isolation — callers needing that
    should check the snapshot id before/after)."""
    for attempt in range(_retries):
        now_ms = int(time.time() * 1000)
        # a caller that pre-stamped its staged files (DV blobs carry
        # the snapshot id) fixes the id; random ids never collide
        # across retries, so reuse is safe
        snapshot_id = (
            _snapshot_id
            if _snapshot_id is not None
            else uuid.uuid4().int % (2**62)
        )
        md_uuid = uuid.uuid4().hex
        seq = int(meta.get("last-sequence-number", 0)) + 1
        fv = int(meta.get("format-version", 1))
        # v3 row lineage: rows added by this snapshot get ids starting
        # at the table's next-row-id
        first_row_id = int(meta.get("next-row-id", 0)) if fv >= 3 else None
        ice_schema = _current_schema(meta)
        manifests = (
            [] if replace_all else _current_manifests(spark, path, meta)
        )
        if staged_adds:
            entry_schema = _manifest_entry_schema_json(
                spec_fields, max(2, fv)
            )
            rows = []
            for f in staged_adds:
                part_rec = {
                    p["name"]: _coerce_part_value(
                        f["partition_values"].get(p["name"]), p["ice_type"]
                    )
                    for p in spec_fields
                }
                rows.append(
                    {
                        "status": 1,  # ADDED
                        "snapshot_id": snapshot_id,
                        "sequence_number": None,  # inherit
                        "file_sequence_number": None,
                        "data_file": {
                            "content": 0,  # DATA
                            "file_path": f["path"],
                            "file_format": f.get("file_format", "PARQUET"),
                            "partition": part_rec,
                            "record_count": f["record_count"],
                            "file_size_in_bytes": f["size"],
                            "equality_ids": None,
                        },
                    }
                )
            spec_json = json.dumps(
                [
                    {
                        "name": p["name"],
                        "transform": p["transform"],
                        "source-id": p["source_id"],
                        "field-id": p["field_id"],
                    }
                    for p in spec_fields
                ]
            )
            dmanifest = f"{path}/metadata/{md_uuid}-m0.avro"
            dlen = _write_avro(
                spark,
                dmanifest,
                entry_schema,
                rows,
                meta={
                    "schema": json.dumps(ice_schema),
                    "partition-spec": spec_json,
                    "partition-spec-id": str(int(meta.get("default-spec-id") or 0)),
                    "format-version": str(max(2, fv)),
                    "content": "data",
                },
            )
            dman = {
                "manifest_path": dmanifest,
                "manifest_length": dlen,
                "partition_spec_id": int(meta.get("default-spec-id") or 0),
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_data_files_count": len(staged_adds),
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
            }
            if fv >= 3:
                dman["first_row_id"] = first_row_id
            manifests.append(dman)
        if staged_dels:
            # v3 deletion-vector entries (Puffin) carry the spec's
            # referenced_data_file/content_offset/content_size fields
            dv3 = any("referenced" in f for f in staged_dels)
            entry_schema = _manifest_entry_schema_json([], 3 if dv3 else 2)
            rows = []
            for f in staged_dels:
                dfd = {
                    "content": 1,  # POSITION_DELETES (DVs included)
                    "file_path": f["path"],
                    "file_format": f.get("file_format", "PARQUET"),
                    "partition": {},
                    "record_count": f["record_count"],
                    "file_size_in_bytes": f["size"],
                    "equality_ids": None,
                }
                if dv3:
                    dfd["referenced_data_file"] = f.get("referenced")
                    dfd["content_offset"] = f.get("content_offset")
                    dfd["content_size_in_bytes"] = f.get(
                        "content_size_in_bytes"
                    )
                rows.append(
                    {
                        "status": 1,
                        "snapshot_id": snapshot_id,
                        "sequence_number": None,  # inherit
                        "file_sequence_number": None,
                        "data_file": dfd,
                    }
                )
            delmanifest = f"{path}/metadata/{md_uuid}-del-m0.avro"
            dellen = _write_avro(
                spark,
                delmanifest,
                entry_schema,
                rows,
                meta={
                    "schema": json.dumps(ice_schema),
                    "partition-spec": "[]",
                    "partition-spec-id": "0",
                    "format-version": "2",
                    "content": "deletes",
                },
            )
            manifests.append(
                {
                    "manifest_path": delmanifest,
                    "manifest_length": dellen,
                    "partition_spec_id": 0,
                    "content": 1,  # DELETES
                    "sequence_number": seq,
                    "min_sequence_number": seq,
                    "added_snapshot_id": snapshot_id,
                    "added_data_files_count": len(staged_dels),
                    "existing_data_files_count": 0,
                    "deleted_data_files_count": 0,
                }
            )
        mlist_path = f"{path}/metadata/snap-{snapshot_id}-1-{md_uuid}.avro"
        _write_avro(
            spark,
            mlist_path,
            _manifest_file_schema_json(max(2, fv)),
            manifests,
            meta={"format-version": str(max(2, fv))},
        )
        snapshot = {
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": meta.get("current-snapshot-id"),
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "summary": {"operation": operation},
            "manifest-list": mlist_path,
            "schema-id": meta.get("current-schema-id", 0),
        }
        meta_out = dict(meta)
        if fv >= 3:
            snapshot["first-row-id"] = first_row_id
            meta_out["next-row-id"] = first_row_id + sum(
                int(f["record_count"]) for f in staged_adds
            )
        meta_out["last-updated-ms"] = now_ms
        meta_out["last-sequence-number"] = seq
        meta_out["snapshots"] = list(meta.get("snapshots") or []) + [snapshot]
        meta_out["current-snapshot-id"] = snapshot_id
        if _publish_next_metadata(spark, path, meta_out):
            return snapshot_id
        # lost the race: staged files still name valid targets —
        # re-resolve the metadata and re-publish
        meta = load_table_metadata(spark, path)
    raise IcebergConcurrentWrite(
        f"row-level DML on {path} lost the commit race {_retries} times"
    )


def iceberg_delete(
    spark: SparkSession, path: str, predicate: str, _retries: int = 5
) -> int:
    """DELETE FROM the Iceberg table WHERE ``predicate`` — jar-free
    merge-on-read: matching rows are located with ONE distributed scan
    (``_metadata.file_path`` + ``row_index``), written as a
    spec-shaped POSITION-DELETE parquet file (``file_path``/``pos``
    with the reserved field ids, sorted by path then position), and
    published as a delete manifest in a new sequence-numbered snapshot
    — no data file rewrites, delete cost ∝ matching rows. Returns the
    committed snapshot id (or the current one when nothing matched — a
    metadata no-op).

    Needs a format-version 2 table (v1 has no row-level deletes; the
    default ``iceberg_write`` emits v2). Matching runs against the
    LIVE view (prior position AND equality deletes applied), so a new
    delete file only carries live rows. Nothing data-sized touches
    the driver: matches stage through Spark's distributed writer and
    only per-file footer counts replay driver-side."""
    meta = load_table_metadata(spark, path)
    if int(meta.get("format-version", 1)) < 2:
        raise IcebergFeatureUnsupported(
            "DELETE needs a format-version 2 table (v1 has no row-level "
            "deletes); rewrite the table with iceberg_write(..., "
            "format_version=2)"
        )
    if int(meta.get("format-version", 1)) >= 3:
        # v3 tables must not grow NEW position-delete files (spec):
        # deletes write as deletion vectors instead
        return iceberg_dv_delete(spark, path, predicate, _retries)
    view, data, _schema = _live_lineage_scan(spark, path)
    if view is None:
        return int(meta.get("current-snapshot-id") or -1)
    # edit-sized lazy checkpoint + count gate: sizes the match set (so
    # bounded deletes take the packed staging path) and turns a
    # no-match DELETE into a metadata no-op without a staging write
    hits = (
        view.where(predicate)
        .select("__fp", "__ri")
        .localCheckpoint(eager=False)
    )
    n_hits = hits.count()
    if n_hits == 0:
        return int(meta.get("current-snapshot-id") or -1)  # no matches
    staged = _stage_position_deletes(
        spark,
        path,
        hits,
        [f for f, _seq in data],
        n_hint=n_hits,
    )
    if not staged:
        return int(meta.get("current-snapshot-id") or -1)  # no matches
    return _publish_dml_snapshot(
        spark, path, meta, [], staged, "delete", _table_spec(meta), _retries
    )


def iceberg_upgrade_format(
    spark: SparkSession, path: str, target: int = 3, _retries: int = 5
) -> int:
    """Metadata-only format-version upgrade (the ``ALTER TABLE … SET
    'format-version'`` path). Raising to 3 unlocks deletion-vector
    DML (:func:`iceberg_dv_delete`); existing snapshots, manifests and
    v2 delete files stay valid per the spec's upgrade rules. Returns
    the table's (possibly already-satisfied) format version."""
    if target not in (2, 3):
        raise ValueError(f"can only upgrade to format-version 2 or 3, not {target}")
    for attempt in range(_retries):
        meta = load_table_metadata(spark, path)
        fv = int(meta.get("format-version", 1))
        if fv >= target:
            return fv
        meta_out = dict(meta)
        meta_out["format-version"] = target
        meta_out.setdefault("last-sequence-number", 0)
        if target >= 3:
            # v3 row lineage starts counting at the upgrade
            meta_out.setdefault("next-row-id", 0)
        meta_out["last-updated-ms"] = int(time.time() * 1000)
        if _publish_next_metadata(spark, path, meta_out):
            return target
    raise IcebergConcurrentWrite(
        f"format upgrade on {path} lost the metadata race {_retries} times"
    )


def iceberg_dv_delete(
    spark: SparkSession, path: str, predicate: str, _retries: int = 5
) -> int:
    """v3 DELETE as DELETION VECTORS (round 12, VERDICT r11 #3): the
    matching LIVE rows' positions serialize as one Puffin file carrying
    one ``deletion-vector-v1`` blob per affected data file
    (:mod:`puffin` — the roaring format shared with Delta DVs), and a
    delete manifest referencing each blob by
    ``referenced_data_file``/``content_offset``/``content_size_in_bytes``
    publishes in a new sequence-numbered snapshot. A file's new DV
    UNIONS the positions of any DV it supersedes (the spec's
    must-contain rule), so one blob per file is always the whole truth.
    Positions leave the cluster as ONE packed Arrow transfer
    (~8 B/row, the path string once per file). Returns the committed
    snapshot id (current one when nothing matched).

    Needs format-version 3 (:func:`iceberg_upgrade_format`)."""
    meta = load_table_metadata(spark, path)
    if int(meta.get("format-version", 1)) < 3:
        raise IcebergFeatureUnsupported(
            "deletion vectors need a format-version 3 table; call "
            "iceberg_upgrade_format(spark, path, 3) first"
        )
    view, data, _schema = _live_lineage_scan(spark, path)
    if view is None:
        return int(meta.get("current-snapshot-id") or -1)
    snapshot_id = uuid.uuid4().int % (2**62)
    staged = _stage_dv_deletes(
        spark,
        path,
        meta,
        view.where(predicate).select("__fp", "__ri"),
        data,
        snapshot_id,
    )
    if not staged:
        return int(meta.get("current-snapshot-id") or -1)  # no matches
    return _publish_dml_snapshot(
        spark,
        path,
        meta,
        [],
        staged,
        "delete",
        _table_spec(meta),
        _retries,
        _snapshot_id=snapshot_id,
    )


def _stage_dv_deletes(
    spark: SparkSession,
    path: str,
    meta: dict,
    matches: DataFrame,
    data: list[tuple[str, int]],
    snapshot_id: int,
) -> list[dict]:
    """Stage v3 DELETION VECTORS for ``matches`` (``__fp``/``__ri``
    lineage rows): positions come off the cluster as ONE packed Arrow
    transfer, union per file with any DV they supersede, serialize as
    one Puffin file (one blob per affected data file), and return the
    delete-manifest entry dicts. Empty list when nothing matched."""
    import numpy as np

    from simple_data_workflow_spark.sources.iceberg_reader import (
        _load_dv_positions,
        _snapshot_files_and_deletes,
    )
    from simple_data_workflow_spark.sources.puffin import build_dv_file

    packed = (
        matches.groupBy("__fp")
        .agg(F.collect_list("__ri").alias("pos"))
        .toArrow()
    )
    if packed.num_rows == 0:
        return []
    # normalized scan path → the manifest's own spelling
    by_local = {_local_path(f): f for f, _seq in data}
    _d, deletes, _s = _snapshot_files_and_deletes(spark, path)
    old_dvs = _load_dv_positions(
        spark, [d for d in deletes if d["content"] == 3]
    )
    dvs: list[tuple[str, np.ndarray]] = []
    for fp, plist in zip(
        packed.column("__fp").to_pylist(), packed.column("pos")
    ):
        ref = by_local.get(_local_path(str(fp)))
        if ref is None:
            continue
        pos = np.unique(
            plist.values.to_numpy(zero_copy_only=False).astype(np.int64)
        )
        old = old_dvs.get(_local_path(ref))
        if old is not None and len(old):
            pos = np.union1d(pos, np.asarray(old, dtype=np.int64))
        dvs.append((ref, pos))
    if not dvs:
        return []
    seq_est = int(meta.get("last-sequence-number", 0)) + 1
    fbytes, descs = build_dv_file(sorted(dvs), snapshot_id, seq_est)
    dest = f"{path}/data/dv-{uuid.uuid4().hex}.puffin"
    tablefs.write_file(spark, dest, fbytes)
    return [
        {
            "path": dest,
            "size": len(fbytes),
            "record_count": d["cardinality"],
            "file_format": "PUFFIN",
            "referenced": d["referenced"],
            "content_offset": d["offset"],
            "content_size_in_bytes": d["length"],
        }
        for d in descs
    ]


def iceberg_update(
    spark: SparkSession,
    path: str,
    set_exprs: dict,
    predicate: str,
    _retries: int = 5,
) -> int:
    """UPDATE the Iceberg table SET col=expr WHERE ``predicate`` —
    jar-free merge-on-read, the v2 runtime shape: ONE snapshot carries
    a POSITION-DELETE file marking the old versions of the matching
    rows dead AND new data files holding their updated versions, so
    readers flip atomically from old to new rows and cost is ∝ matching
    rows (untouched files never rewrite). Matching runs against the
    LIVE view (prior position/equality deletes applied), so dead rows
    are never resurrected. SET expressions may reference any table
    column and cast to the column's declared type, as
    ``delta_update`` does. Returns the committed snapshot id (current
    id when nothing matched — a metadata no-op)."""
    meta = load_table_metadata(spark, path)
    if int(meta.get("format-version", 1)) < 2:
        raise IcebergFeatureUnsupported(
            "UPDATE needs a format-version 2 table (v1 has no row-level "
            "deletes); rewrite the table with iceberg_write(..., "
            "format_version=2)"
        )
    view, data, schema = _live_lineage_scan(spark, path)
    if view is None:
        return int(meta.get("current-snapshot-id") or -1)
    types = {f.name: f.dataType for f in schema.fields}
    for col in set_exprs:
        if col not in types:
            raise ValueError(f"unknown column {col!r} in SET")
    # materialize the matches ONCE (executor-resident, size ∝ matched
    # rows): the delete positions and the re-inserted rows MUST name
    # the same row set even if the predicate is volatile. LAZY
    # checkpoint + count gate = one materializing job (the eager
    # checkpoint + isEmpty() shape paid two — guide §1.2)
    matches = view.where(predicate).localCheckpoint(eager=False)
    n_matched = matches.count()
    if n_matched == 0:
        return int(meta.get("current-snapshot-id") or -1)
    snapshot_id = uuid.uuid4().int % (2**62)
    updated = matches
    for col, expr in set_exprs.items():
        updated = updated.withColumn(col, F.expr(expr).cast(types[col]))
    updated = updated.select(*[f.name for f in schema.fields])
    spec_fields = _table_spec(meta)
    ice_schema = _current_schema(meta)

    # the delete-side staging and the new-version staging both read the
    # materialized checkpoint and write disjoint staged files — run the
    # two independent Spark jobs on two threads (guide §2.6), the same
    # overlap the tablelog MoR DML writers use
    def _dels() -> list[dict]:
        if int(meta.get("format-version", 1)) >= 3:
            # v3: dead rows mark via deletion vectors, never new
            # position-delete files (spec upgrade rule)
            return _stage_dv_deletes(
                spark,
                path,
                meta,
                matches.select("__fp", "__ri"),
                data,
                snapshot_id,
            )
        return _stage_position_deletes(
            spark,
            path,
            matches.select("__fp", "__ri"),
            [f for f, _seq in data],
            n_hint=n_matched,
        )

    def _adds() -> list[dict]:
        return _stage_data_files(
            updated,
            path,
            [p["name"] for p in spec_fields],
            _field_id_spark_schema(updated.schema, ice_schema),
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_dels = pool.submit(_dels)
        staged_adds = _adds()
        staged_dels = fut_dels.result()
    return _publish_dml_snapshot(
        spark,
        path,
        meta,
        staged_adds,
        staged_dels,
        "overwrite",
        spec_fields,
        _retries,
        _snapshot_id=snapshot_id,
    )


def iceberg_merge_upsert(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: list[str],
    _retries: int = 5,
) -> int:
    """MERGE INTO the Iceberg table USING ``source`` ON the key columns
    — jar-free merge-on-read upsert with delete-insert semantics (the
    same deterministic contract as ``delta_merge_upsert``: result =
    target anti-join source ON keys, UNION source). ONE snapshot
    carries a POSITION-DELETE file for the matched target rows and new
    data files holding every source row — no data-file rewrites, cost
    ∝ matched + source rows. Matching runs against the LIVE view, so
    previously-deleted rows never resurrect; NULL keys never match
    (standard join semantics), like SQL MERGE. A merge into an absent
    or empty table degenerates to create/append. Source schema must
    match the table by name+type."""
    try:
        meta = load_table_metadata(spark, path)
    except FileNotFoundError:
        meta = None
    if meta is None:
        iceberg_write(source, path, mode="append")
        return int(load_table_metadata(spark, path)["current-snapshot-id"])
    if int(meta.get("format-version", 1)) < 2:
        raise IcebergFeatureUnsupported(
            "MERGE needs a format-version 2 table (v1 has no row-level "
            "deletes); rewrite the table with iceberg_write(..., "
            "format_version=2)"
        )
    from simple_data_workflow_spark.sources.iceberg_reader import (
        _schema_and_ids,
    )

    table_schema, _ids = _schema_and_ids(meta)
    if _schema_types(table_schema) != _schema_types(source.schema):
        raise IcebergSchemaMismatch(
            "merge source schema differs from the table schema "
            f"({_schema_types(table_schema)} vs {_schema_types(source.schema)})"
        )
    missing = [c for c in on if c not in source.columns]
    if missing:
        raise ValueError(f"merge key columns not in source: {missing}")
    cols = [f.name for f in table_schema.fields]
    source = source.select(*cols)
    spec_fields = _table_spec(meta)
    ice_schema = _current_schema(meta)
    view, data, _schema = _live_lineage_scan(spark, path)
    snapshot_id = uuid.uuid4().int % (2**62)

    # the matched-row delete staging (reads the live view ⋉ source) and
    # the source staging write are independent Spark jobs over disjoint
    # staged files — overlap them on two threads (guide §2.6)
    def _dels() -> list[dict]:
        if view is None:
            return []
        matched = (
            view.join(
                source.select(*on).dropDuplicates(), list(on), "left_semi"
            )
            .select("__fp", "__ri")
            .localCheckpoint(eager=False)
        )
        n_matched = matched.count()  # sizes the packed-staging decision
        if n_matched == 0:
            return []
        if int(meta.get("format-version", 1)) >= 3:
            # v3: matched target rows mark via deletion vectors
            return _stage_dv_deletes(
                spark,
                path,
                meta,
                matched,
                data,
                snapshot_id,
            )
        return _stage_position_deletes(
            spark,
            path,
            matched,
            [f for f, _seq in data],
            n_hint=n_matched,
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_dels = pool.submit(_dels)
        staged_adds = _stage_data_files(
            source,
            path,
            [p["name"] for p in spec_fields],
            _field_id_spark_schema(source.schema, ice_schema),
        )
        staged_dels = fut_dels.result()
    return _publish_dml_snapshot(
        spark,
        path,
        meta,
        staged_adds,
        staged_dels,
        "overwrite",
        spec_fields,
        _retries,
        _snapshot_id=snapshot_id,
    )


def iceberg_equality_delete(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    _retries: int = 5,
) -> int:
    """Publish an EQUALITY-DELETE snapshot: every table row whose
    values match a row of ``keys`` (NULL-safe, on the key DataFrame's
    columns — they become the delete file's ``equality_ids``) is dead
    for all data files with a smaller sequence number. This is the
    CDC-writer shape (Flink upsert streams emit these): the delete
    costs ∝ key rows — no scan of the table at all, unlike
    ``iceberg_delete``'s position-scan — and later re-inserts of the
    same keys survive because their files carry a HIGHER sequence
    number (the spec's strictly-smaller application rule, which the
    reader implements). Needs a format-version 2 table; returns the
    committed snapshot id."""
    meta = load_table_metadata(spark, path)
    if int(meta.get("format-version", 1)) < 2:
        raise IcebergFeatureUnsupported(
            "equality deletes need a format-version 2 table"
        )
    from simple_data_workflow_spark.sources.iceberg_reader import (
        _schema_and_ids,
    )

    schema, ids = _schema_and_ids(meta)
    eq_cols = list(keys.columns)
    missing = [c for c in eq_cols if c not in ids]
    if missing:
        raise ValueError(
            f"equality-delete columns not in the table schema: {missing}"
        )
    table_types = {f.name: f.dataType.simpleString() for f in schema.fields}
    for f in keys.schema.fields:
        if table_types[f.name] != f.dataType.simpleString():
            raise IcebergSchemaMismatch(
                f"equality column {f.name!r} type "
                f"{f.dataType.simpleString()} != table "
                f"{table_types[f.name]}"
            )
    eq_ids = [ids[c] for c in eq_cols]
    # stage the delete file: the equality columns with their table
    # field ids stamped, deduped (a key listed twice is one delete)
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    staged_df = keys.dropDuplicates().select(
        *[
            F.col(c).alias(c, metadata={"parquet.field.id": ids[c]})
            for c in eq_cols
        ]
    )
    staged = _stage_delete_files(
        spark, path, staged_df.coalesce(1), "eqdelete"
    )
    if not staged:
        return int(meta.get("current-snapshot-id") or -1)  # empty keys

    ice_schema = _current_schema(meta)
    for attempt in range(_retries):
        now_ms = int(time.time() * 1000)
        snapshot_id = uuid.uuid4().int % (2**62)
        md_uuid = uuid.uuid4().hex
        seq = int(meta.get("last-sequence-number", 0)) + 1
        entry_schema = _manifest_entry_schema_json([], 2)
        rows = [
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": None,  # inherit
                "file_sequence_number": None,
                "data_file": {
                    "content": 2,  # EQUALITY_DELETES
                    "file_path": f["path"],
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": f["record_count"],
                    "file_size_in_bytes": f["size"],
                    "equality_ids": eq_ids,
                },
            }
            for f in staged
        ]
        dmanifest = f"{path}/metadata/{md_uuid}-eqdel-m0.avro"
        dlen = _write_avro(
            spark,
            dmanifest,
            entry_schema,
            rows,
            meta={
                "schema": json.dumps(ice_schema),
                "partition-spec": "[]",
                "partition-spec-id": "0",
                "format-version": "2",
                "content": "deletes",
            },
        )
        manifests = _current_manifests(spark, path, meta)
        manifests.append(
            {
                "manifest_path": dmanifest,
                "manifest_length": dlen,
                "partition_spec_id": 0,
                "content": 1,  # DELETES
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_data_files_count": len(staged),
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
            }
        )
        mlist_path = f"{path}/metadata/snap-{snapshot_id}-1-{md_uuid}.avro"
        _write_avro(
            spark,
            mlist_path,
            _manifest_file_schema_json(2),
            manifests,
            meta={"format-version": "2"},
        )
        snapshot = {
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": meta.get("current-snapshot-id"),
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "summary": {"operation": "delete"},
            "manifest-list": mlist_path,
            "schema-id": meta.get("current-schema-id", 0),
        }
        meta_out = dict(meta)
        meta_out["last-updated-ms"] = now_ms
        meta_out["last-sequence-number"] = seq
        meta_out["snapshots"] = list(meta.get("snapshots") or []) + [snapshot]
        meta_out["current-snapshot-id"] = snapshot_id
        if _publish_next_metadata(spark, path, meta_out):
            return snapshot_id
        meta = load_table_metadata(spark, path)
    raise IcebergConcurrentWrite(
        f"equality DELETE on {path} lost the commit race {_retries} times"
    )


def iceberg_expire_snapshots(
    spark: SparkSession,
    path: str,
    keep_last: int = 1,
    older_than_ms: int | None = None,
) -> list[int]:
    """Expire old snapshots (Iceberg's ``expireSnapshots`` shape): drop
    every snapshot except the current one, the ``keep_last`` newest,
    and — when ``older_than_ms`` is given — any newer than that
    instant; then delete the files ONLY they referenced (data files,
    delete files, manifests, manifest lists). Time travel to expired
    snapshots stops working, exactly like Iceberg. Returns the expired
    snapshot ids. Everything is metadata-sized (manifest replay per
    snapshot) except the file deletes themselves."""
    from simple_data_workflow_spark.sources.avro_ocf import read_ocf_file

    meta = load_table_metadata(spark, path)
    snaps = sorted(
        meta.get("snapshots") or [],
        key=lambda s: (int(s.get("timestamp-ms") or 0), int(s["snapshot-id"])),
    )
    cur = meta.get("current-snapshot-id")
    keep: set[int] = {int(cur)} if cur not in (None, -1) else set()
    # named branches/tags pin their snapshots (Iceberg's retention
    # rule: a referenced snapshot never expires while the ref lives)
    for entry in (meta.get("refs") or {}).values():
        keep.add(int(entry["snapshot-id"]))
    for s in snaps[-max(keep_last, 1):]:
        keep.add(int(s["snapshot-id"]))
    if older_than_ms is not None:
        for s in snaps:
            if int(s.get("timestamp-ms") or 0) >= int(older_than_ms):
                keep.add(int(s["snapshot-id"]))
    expired = [s for s in snaps if int(s["snapshot-id"]) not in keep]
    if not expired:
        return []

    def referenced(snapshot) -> tuple[set[str], set[str]]:
        """(data/delete file paths, manifest+list paths) one snapshot
        references, via the pure-Python OCF reader."""
        files: set[str] = set()
        metas: set[str] = set()
        mlist = _local_path(str(snapshot["manifest-list"]))
        metas.add(mlist)
        _s, entries = read_ocf_file(mlist)
        for m in entries:
            mp = _local_path(str(m["manifest_path"]))
            metas.add(mp)
            _s2, mes = read_ocf_file(mp)
            for e in mes:
                if int(e.get("status") or 0) == 2:
                    continue
                files.add(_local_path(str(e["data_file"]["file_path"])))
        return files, metas

    live_files: set[str] = set()
    live_metas: set[str] = set()
    for s in snaps:
        if int(s["snapshot-id"]) in keep:
            f, m = referenced(s)
            live_files |= f
            live_metas |= m
    dead_files: set[str] = set()
    dead_metas: set[str] = set()
    for s in expired:
        f, m = referenced(s)
        dead_files |= f - live_files
        dead_metas |= m - live_metas

    for p in sorted(dead_files | dead_metas):
        tablefs.remove(spark, p)

    expired_ids = {int(s["snapshot-id"]) for s in expired}
    meta_out = dict(meta)
    meta_out["snapshots"] = [
        s for s in snaps if int(s["snapshot-id"]) not in expired_ids
    ]
    meta_out["last-updated-ms"] = int(time.time() * 1000)
    if not _publish_next_metadata(spark, path, meta_out):
        raise IcebergConcurrentWrite(
            f"snapshot expiration on {path} lost the metadata race"
        )
    return sorted(expired_ids)


def iceberg_compact(spark: SparkSession, path: str, _retries: int = 5) -> int:
    """Rewrite-data-files maintenance (Iceberg's OPTIMIZE/compaction
    equivalent — Delta has OPTIMIZE, Hudi has MoR compaction): the LIVE
    snapshot view (position AND equality deletes applied) rewrites into
    fresh data files and publishes a REPLACE snapshot whose manifest
    list carries ONLY the new data manifest — small files merge, delete
    files stop applying, and subsequent scans are pure parquet reads
    with zero delete-application work. Older snapshots (and their
    delete files) stay time-travelable until ``iceberg_expire_snapshots``
    collects them. Needs v2 (v1 compaction ≡ ``iceberg_write(...,
    mode="overwrite")``). Returns the committed snapshot id."""
    meta = load_table_metadata(spark, path)
    if int(meta.get("format-version", 1)) < 2:
        raise IcebergFeatureUnsupported(
            "compaction targets format-version 2 tables; on v1, an "
            "iceberg_write(..., mode='overwrite') of the current view "
            "is the equivalent"
        )
    view, _data, schema = _live_lineage_scan(spark, path)
    if view is None:
        return int(meta.get("current-snapshot-id") or -1)
    rows = view.drop("__fp", "__ri").select(*[f.name for f in schema.fields])
    spec_fields = _table_spec(meta)
    ice_schema = _current_schema(meta)
    staged = [
        f
        for f in _stage_data_files(
            rows,
            path,
            [p["name"] for p in spec_fields],
            _field_id_spark_schema(rows.schema, ice_schema),
        )
        if f["record_count"] > 0
    ]
    return _publish_dml_snapshot(
        spark,
        path,
        meta,
        staged,
        [],
        "replace",
        spec_fields,
        _retries,
        replace_all=True,
    )


# ---------------------------------------------------------------------------
# schema evolution (round 11 continuation): metadata-only commits — the
# Iceberg model (spec "Schema Evolution"): a NEW schema entry appends to
# `schemas` with the next schema-id and becomes current; data files
# never rewrite. Reads stay safe because columns resolve per the spec:
# add → old files lack the id and read NULL; drop → files' extra column
# is ignored; rename → the id stays, and the reader switches to
# field-id resolution when it detects by-name is unsound.
# ---------------------------------------------------------------------------


def _evolve_schema(spark: SparkSession, path: str, mutate, _retries: int = 5) -> int:
    """Publish a metadata-only schema change: ``mutate(fields, meta)``
    receives a deep copy of the current schema's field list and the
    table metadata, returns ``(new_fields, extra_metadata_updates)``.
    The new schema appends with the next schema-id and becomes current.
    Returns the new schema id; retries the metadata race."""
    import copy

    for attempt in range(_retries):
        meta = load_table_metadata(spark, path)
        cur = _current_schema(meta)
        new_fields, extra = mutate(copy.deepcopy(cur["fields"]), meta)
        schemas = list(meta.get("schemas") or [])
        if not schemas:  # v1 single-schema form: seed the history
            schemas = [dict(cur, **{"schema-id": meta.get("current-schema-id", 0)})]
        new_id = max(int(s.get("schema-id", 0)) for s in schemas) + 1
        new_schema = {"type": "struct", "schema-id": new_id, "fields": new_fields}
        meta_out = dict(meta)
        meta_out["schemas"] = schemas + [new_schema]
        meta_out["current-schema-id"] = new_id
        meta_out["schema"] = new_schema  # v1-compat single-schema field
        meta_out["last-updated-ms"] = int(time.time() * 1000)
        meta_out.update(extra or {})
        if _publish_next_metadata(spark, path, meta_out):
            return new_id
    raise IcebergConcurrentWrite(
        f"schema evolution on {path} lost the metadata race {_retries} times"
    )


def iceberg_add_column(
    spark: SparkSession,
    path: str,
    name: str,
    ice_type: str,
    default=None,
) -> int:
    """ADD COLUMN ``name`` of (primitive) Iceberg type ``ice_type`` —
    metadata-only: the column gets a fresh field id past
    ``last-column-id``; rows in files written before the change read
    NULL (the spec's rule for an id the file does not carry). Returns
    the new schema id.

    ``default`` (round 13, VERDICT r12 #4) sets the v3 COLUMN DEFAULT:
    the field carries ``initial-default`` (what pre-existing rows read
    instead of NULL) and ``write-default`` (what writers omitting the
    column fill in), JSON single-value serialized per the spec.
    Requires a format-version 3 table."""
    from simple_data_workflow_spark.sources.iceberg_reader import _spark_type

    _spark_type(ice_type)  # validates the type string (raises otherwise)

    def mutate(fields, meta):
        if any(f["name"] == name for f in fields):
            raise ValueError(f"column {name!r} already exists")
        if default is not None and int(meta.get("format-version", 1)) < 3:
            raise IcebergFeatureUnsupported(
                "column defaults need a format-version 3 table "
                "(iceberg_upgrade_format(spark, path, 3) first)"
            )
        fid = int(meta.get("last-column-id", len(fields))) + 1
        field = {
            "id": fid, "name": name, "required": False, "type": ice_type
        }
        if default is not None:
            field["initial-default"] = default
            field["write-default"] = default
        fields.append(field)
        return fields, {"last-column-id": fid}

    return _evolve_schema(spark, path, mutate)


def iceberg_rename_column(
    spark: SparkSession, path: str, old: str, new: str
) -> int:
    """RENAME COLUMN — metadata-only: the field keeps its id, only the
    name moves, so files written under EITHER name stay readable (the
    reader probes the footers and switches to field-id resolution when
    by-name would misread). Returns the new schema id."""

    def mutate(fields, meta):
        if any(f["name"] == new for f in fields):
            raise ValueError(f"column {new!r} already exists")
        hit = next((f for f in fields if f["name"] == old), None)
        if hit is None:
            raise ValueError(f"no column {old!r} in the table schema")
        hit["name"] = new
        # identity-partition field names follow the source column
        spec = meta.get("partition-spec") or []
        parts = [p for p in spec if p["source-id"] == hit["id"]]
        extra = {}
        if parts:
            new_spec = [dict(p) for p in spec]
            for p in new_spec:
                if p["source-id"] == hit["id"]:
                    p["name"] = new
            extra["partition-spec"] = new_spec
            pspecs = []
            for ps in meta.get("partition-specs") or []:
                ps = dict(ps)
                ps["fields"] = [
                    dict(f, name=new)
                    if f.get("source-id") == hit["id"]
                    else f
                    for f in ps.get("fields") or []
                ]
                pspecs.append(ps)
            if pspecs:
                extra["partition-specs"] = pspecs
        return fields, extra

    return _evolve_schema(spark, path, mutate)


def iceberg_drop_column(spark: SparkSession, path: str, name: str) -> int:
    """DROP COLUMN — metadata-only: the field leaves the current
    schema; data files keep the physical column but readers ignore it
    (ids never get reused: ``last-column-id`` is monotonic). Partition
    source columns refuse — dropping one would orphan the spec.
    Returns the new schema id."""

    def mutate(fields, meta):
        hit = next((f for f in fields if f["name"] == name), None)
        if hit is None:
            raise ValueError(f"no column {name!r} in the table schema")
        for p in meta.get("partition-spec") or []:
            if p["source-id"] == hit["id"]:
                raise ValueError(
                    f"column {name!r} is a partition source column; "
                    "dropping it would orphan the partition spec"
                )
        return [f for f in fields if f["name"] != name], {}

    return _evolve_schema(spark, path, mutate)


def iceberg_rollback(
    spark: SparkSession, path: str, snapshot_id: int, _retries: int = 5
) -> int:
    """Roll the table back to ``snapshot_id`` — metadata-only (the
    spec's set-current-snapshot): ``current-snapshot-id`` moves to the
    target, nothing rewrites, and the rolled-past snapshots stay in the
    log (time-travelable, collectable by ``iceberg_expire_snapshots``).
    Later writes parent off the restored snapshot; sequence numbers
    stay monotonic (``last-sequence-number`` never rewinds — the spec's
    rule, so new row-level deletes still order after everything ever
    committed). Returns the restored snapshot id."""
    for attempt in range(_retries):
        meta = load_table_metadata(spark, path)
        snaps = meta.get("snapshots") or []
        if not any(int(s["snapshot-id"]) == int(snapshot_id) for s in snaps):
            have = [int(s["snapshot-id"]) for s in snaps]
            raise ValueError(
                f"snapshot {snapshot_id} not in table (have {have})"
            )
        if meta.get("current-snapshot-id") == int(snapshot_id):
            return int(snapshot_id)  # already current: no-op
        meta_out = dict(meta)
        meta_out["current-snapshot-id"] = int(snapshot_id)
        meta_out["last-updated-ms"] = int(time.time() * 1000)
        if _publish_next_metadata(spark, path, meta_out):
            return int(snapshot_id)
    raise IcebergConcurrentWrite(
        f"rollback on {path} lost the metadata race {_retries} times"
    )


def iceberg_snapshot_at_timestamp(
    spark: SparkSession, path: str, ts_ms: int
) -> int:
    """Resolve ``as-of-timestamp`` time travel to a snapshot id: the
    LATEST snapshot whose ``timestamp-ms`` is <= ``ts_ms`` (Iceberg's
    own rule). Raises if the table has no snapshot at or before the
    asked instant. Metadata-only."""
    meta = load_table_metadata(spark, path)
    best = None
    for s in meta.get("snapshots") or []:
        t = int(s.get("timestamp-ms") or 0)
        if t <= ts_ms and (best is None or t >= best[0]):
            best = (t, int(s["snapshot-id"]))
    if best is None:
        raise ValueError(
            f"no snapshot at or before timestamp {ts_ms} in {path}"
        )
    return best[1]


def iceberg_cherry_pick(
    spark: SparkSession, path: str, snapshot_id: int, _retries: int = 5
) -> int:
    """Publish a STAGED (write-audit-publish) snapshot: make
    ``snapshot_id`` — committed earlier with ``iceberg_write(...,
    stage_only=True)`` — the table's current snapshot, metadata-only
    (Iceberg's ``cherrypick_snapshot`` for WAP-staged appends). The
    audit step reads the staged snapshot via snapshot-id time travel
    before publishing. Refuses to cherry-pick a snapshot whose parent
    is not the CURRENT snapshot (a fast-forward publish would silently
    drop the intervening commits)."""
    for attempt in range(_retries):
        meta = load_table_metadata(spark, path)
        snaps = meta.get("snapshots") or []
        snap = next(
            (s for s in snaps if int(s["snapshot-id"]) == int(snapshot_id)),
            None,
        )
        if snap is None:
            raise ValueError(f"snapshot {snapshot_id} not in table")
        if meta.get("current-snapshot-id") == int(snapshot_id):
            return int(snapshot_id)  # already published: no-op
        # normalize "no parent" and "no current snapshot": a snapshot
        # staged as a new/empty table's FIRST commit records no
        # parent-snapshot-id while the table metadata says current = -1
        # (or omits it) — those MATCH (ADVICE r11)
        parent = snap.get("parent-snapshot-id")
        current = meta.get("current-snapshot-id")
        if (parent if parent is not None else -1) != (
            current if current is not None else -1
        ):
            raise ValueError(
                f"snapshot {snapshot_id} does not parent off the current "
                "snapshot — the table moved since it was staged; re-stage "
                "against the new current state"
            )
        meta_out = dict(meta)
        meta_out["current-snapshot-id"] = int(snapshot_id)
        meta_out["last-updated-ms"] = int(time.time() * 1000)
        if _publish_next_metadata(spark, path, meta_out):
            return int(snapshot_id)
    raise IcebergConcurrentWrite(
        f"cherry-pick on {path} lost the metadata race {_retries} times"
    )


def iceberg_update_spec(
    spark: SparkSession, path: str, partition_by: list[str], _retries: int = 5
) -> int:
    """PARTITION EVOLUTION (Iceberg's ``ALTER TABLE ... REPLACE
    PARTITION FIELD`` family), metadata-only: append a NEW partition
    spec (identity transforms over ``partition_by``) with the next
    spec-id and make it the default. Existing data files keep their
    old layout and old spec — the spec's core promise: evolution never
    rewrites data — and subsequent writes partition by the new spec,
    their manifests stamped with the new spec-id. Partition field-ids
    are REUSED for a (source-id, transform) pair any earlier spec
    already named (the spec's same-field-same-id rule) and fresh ones
    continue from last-partition-id. v1 refuses (single-spec format).
    Returns the new spec id."""
    for _attempt in range(_retries):
        meta = load_table_metadata(spark, path)
        if int(meta.get("format-version", 1)) < 2:
            raise IcebergFeatureUnsupported(
                "partition evolution needs format-version >= 2 "
                "(v1 tables carry a single spec)"
            )
        ice_schema = _current_schema(meta)
        specs = list(meta.get("partition-specs") or [])
        if not specs:
            specs = [
                {
                    "spec-id": 0,
                    "fields": [
                        {
                            "name": p["name"],
                            "transform": p["transform"],
                            "source-id": p["source-id"],
                            "field-id": p["field-id"],
                        }
                        for p in (meta.get("partition-spec") or [])
                    ],
                }
            ]
        new_id = max(int(s.get("spec-id", 0)) for s in specs) + 1
        seen = {
            (int(f["source-id"]), f["transform"]): int(f["field-id"])
            for s in specs
            for f in s.get("fields") or []
        }
        next_fid = max(
            [int(meta.get("last-partition-id") or 999)]
            + [fid for fid in seen.values()]
        )
        raw = _partition_fields(ice_schema, list(partition_by))
        fields = []
        for p in raw:
            key = (int(p["source_id"]), p["transform"])
            if key in seen:
                fid = seen[key]
            else:
                next_fid += 1
                fid = next_fid
            fields.append(
                {
                    "name": p["name"],
                    "transform": p["transform"],
                    "source-id": p["source_id"],
                    "field-id": fid,
                }
            )
        cur_default = next(
            (
                s
                for s in specs
                if int(s.get("spec-id", 0))
                == int(meta.get("default-spec-id") or 0)
            ),
            None,
        )
        if cur_default is not None and cur_default.get("fields") == fields:
            return int(cur_default["spec-id"])  # no-op: same spec
        meta_out = dict(meta)
        meta_out["partition-specs"] = specs + [
            {"spec-id": new_id, "fields": fields}
        ]
        meta_out["default-spec-id"] = new_id
        # the legacy flat field mirrors the DEFAULT spec (what this
        # writer's append path reads)
        meta_out["partition-spec"] = fields
        meta_out["last-partition-id"] = max(
            [next_fid] + [int(f["field-id"]) for f in fields]
        )
        meta_out["last-updated-ms"] = int(time.time() * 1000)
        if _publish_next_metadata(spark, path, meta_out):
            return new_id
    raise IcebergConcurrentWrite(
        f"spec update on {path} lost the metadata race {_retries} times"
    )


# ---------------------------------------------------------------------------
# named references (round 12 continuation): branches and tags — the
# spec's table-metadata `refs` map (name -> {snapshot-id, type}).
# `main` is IMPLICIT here: it always means current-snapshot-id (real
# runtimes materialize a main entry too; every reader of this metadata
# that consults current-snapshot-id sees identical behavior, and
# iceberg_refs() synthesizes the entry for the metadata-table view).
# ---------------------------------------------------------------------------


def _mutate_refs(spark: SparkSession, path: str, mutate, _retries: int = 5):
    """CAS loop for metadata-only ref changes: ``mutate(meta)`` edits a
    dict copy in place (or raises); the copy publishes at the next
    metadata version. Returns the published metadata."""
    for _attempt in range(_retries):
        meta = load_table_metadata(spark, path)
        meta_out = dict(meta)
        meta_out["refs"] = dict(meta.get("refs") or {})
        mutate(meta_out)
        meta_out["last-updated-ms"] = int(time.time() * 1000)
        if _publish_next_metadata(spark, path, meta_out):
            return meta_out
    raise IcebergConcurrentWrite(
        f"ref change on {path} lost the metadata race {_retries} times"
    )


def iceberg_set_ref(
    spark: SparkSession,
    path: str,
    name: str,
    snapshot_id: int | None = None,
    ref_type: str = "branch",
    if_exists: str = "error",
) -> int:
    """Create or move a named reference (Iceberg's ``CREATE BRANCH`` /
    ``CREATE TAG`` / ``REPLACE BRANCH``): point ``name`` at
    ``snapshot_id`` (default: the current snapshot). ``ref_type`` is
    ``branch`` or ``tag`` — a TAG is immutable by convention, so moving
    one requires ``if_exists="replace"`` just like a branch.
    ``main`` is reserved (it IS current-snapshot-id; move it with
    ``iceberg_fast_forward``/``iceberg_rollback``). Returns the
    snapshot id the ref points at. Metadata-only."""
    if name == "main":
        raise ValueError(
            "'main' is the table's current snapshot — move it with "
            "iceberg_fast_forward or iceberg_rollback"
        )
    if ref_type not in ("branch", "tag"):
        raise ValueError(f"ref_type must be 'branch' or 'tag', got {ref_type!r}")
    if if_exists not in ("error", "replace"):
        raise ValueError(f"if_exists must be 'error' or 'replace', got {if_exists!r}")

    def mutate(meta_out):
        snaps = meta_out.get("snapshots") or []
        target = snapshot_id
        if target is None:
            cur = meta_out.get("current-snapshot-id")
            if cur in (None, -1):
                raise ValueError(
                    f"table at {path} has no current snapshot to reference"
                )
            target = int(cur)
        if not any(int(s["snapshot-id"]) == int(target) for s in snaps):
            raise ValueError(f"snapshot {target} not in table")
        if name in meta_out["refs"] and if_exists == "error":
            raise ValueError(
                f"ref {name!r} already exists (pass if_exists='replace' to move it)"
            )
        meta_out["refs"][name] = {
            "snapshot-id": int(target),
            "type": ref_type,
        }
        mutate.result = int(target)

    published = _mutate_refs(spark, path, mutate)
    return int(published["refs"][name]["snapshot-id"])


def iceberg_drop_ref(spark: SparkSession, path: str, name: str) -> None:
    """Drop a named branch/tag (metadata-only; the snapshots it pointed
    at stay in the log until ``iceberg_expire_snapshots``)."""
    if name == "main":
        raise ValueError("cannot drop 'main'")

    def mutate(meta_out):
        if name not in meta_out["refs"]:
            raise ValueError(f"no ref named {name!r}")
        del meta_out["refs"][name]

    _mutate_refs(spark, path, mutate)


def iceberg_refs(spark: SparkSession, path: str) -> dict:
    """The table's reference map, ``main`` synthesized from
    current-snapshot-id (the spec's implicit main branch)."""
    meta = load_table_metadata(spark, path)
    refs = dict(meta.get("refs") or {})
    cur = meta.get("current-snapshot-id")
    if cur not in (None, -1):
        refs.setdefault("main", {"snapshot-id": int(cur), "type": "branch"})
    return refs


def _is_ancestor(snaps_by_id: dict, ancestor: int, descendant: int) -> bool:
    """True when ``ancestor`` is on ``descendant``'s parent chain
    (inclusive)."""
    seen = set()
    cur = descendant
    while cur is not None and cur not in seen:
        if int(cur) == int(ancestor):
            return True
        seen.add(cur)
        snap = snaps_by_id.get(int(cur))
        cur = None if snap is None else snap.get("parent-snapshot-id")
    return False


def iceberg_fast_forward(
    spark: SparkSession, path: str, name: str, to_ref: str
) -> int:
    """Fast-forward ref ``name`` to another ref's snapshot (Iceberg's
    ``fast_forward`` procedure): REQUIRES the target's ancestry to
    contain ``name``'s current position — anything else would silently
    drop commits, so it raises instead. ``name='main'`` moves
    current-snapshot-id (how a branch's audited work publishes).
    Returns the new snapshot id."""

    def resolve(meta_out, ref):
        if ref == "main":
            cur = meta_out.get("current-snapshot-id")
            return None if cur in (None, -1) else int(cur)
        entry = (meta_out.get("refs") or {}).get(ref)
        if entry is None:
            raise ValueError(f"no ref named {ref!r}")
        return int(entry["snapshot-id"])

    result = {}

    def mutate(meta_out):
        target = resolve(meta_out, to_ref)
        if target is None:
            raise ValueError(f"ref {to_ref!r} resolves to no snapshot")
        pos = resolve(meta_out, name) if (
            name == "main" or name in meta_out["refs"]
        ) else None
        snaps_by_id = {
            int(s["snapshot-id"]): s for s in meta_out.get("snapshots") or []
        }
        if pos is not None and not _is_ancestor(snaps_by_id, pos, target):
            raise ValueError(
                f"cannot fast-forward {name!r}: its snapshot {pos} is not "
                f"an ancestor of {to_ref!r}'s snapshot {target}"
            )
        if name == "main":
            meta_out["current-snapshot-id"] = int(target)
        else:
            meta_out["refs"][name] = {
                "snapshot-id": int(target),
                "type": (meta_out["refs"].get(name) or {}).get("type", "branch"),
            }
        result["snapshot"] = int(target)

    _mutate_refs(spark, path, mutate)
    return result["snapshot"]
