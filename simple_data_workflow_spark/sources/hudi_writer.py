"""Jar-free Apache Hudi COPY-ON-WRITE write interop (round 10).

Companion to ``sources.hudi_reader``: emits the public Hudi CoW layout
— data files named ``<fileId>_<writeToken>_<instant>.parquet`` carrying
the ``_hoodie_*`` meta columns, per-partition
``.hoodie_partition_metadata``, ``hoodie.properties``, and a classic
timeline where the COMPLETED ``<instant>.commit`` file (JSON
``partitionToWriteStats``) is the atomic publish point (written
if-absent — a lost instant race retries with a fresh instant for
appends and raises for overwrites).

Modes:

- ``error`` (create) / ``append``: each staged task file becomes a NEW
  file group (insert semantics — Hudi's ``bulk_insert`` shape; upserts
  into existing groups are the reader+MERGE flow's job).
- ``overwrite``: new file groups plus a ``replacecommit`` whose
  ``partitionToReplaceFileIds`` retires every prior live group —
  Hudi's own ``insert_overwrite_table`` mechanism, and older instants
  stay time-travelable exactly like the reader's ``as_of`` contract.

Deviations, documented: ``_hoodie_file_name`` is stamped with the file
group id rather than the final physical name (task file names are not
known until after the distributed write; CoW readers resolve files by
NAME CONVENTION + timeline, not by this informational column), and
``_hoodie_commit_seqno`` is ``<instant>_<monotonic id>``.

Scale posture: data movement is Spark's normal distributed parquet
write; instants are monotonically increasing timestamps; everything
after staging is metadata-sized and driver-side.
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_data_workflow_spark.sources import tablefs
from simple_data_workflow_spark.sources.hudi_reader import (
    hudi_snapshot_files,
    load_table_properties,
)


class HudiConcurrentWrite(RuntimeError):
    """Another writer committed the instant this write targeted."""


_META_COLS = [
    "_hoodie_commit_time",
    "_hoodie_commit_seqno",
    "_hoodie_record_key",
    "_hoodie_partition_path",
    "_hoodie_file_name",
]


def _next_instant(spark: SparkSession, path: str) -> str:
    """Hudi instant time: ``yyyyMMddHHmmssSSS``; STRICTLY greater than
    every existing timeline entry. Seconds and milliseconds derive from
    ONE clock reading — two reads can straddle a second boundary under
    load and compose an instant that sorts BELOW an already-allocated
    one (e.g. seconds from :12 with millis already rolled to :13.001 →
    "...12001" < "...12999"), silently corrupting instant-ordered time
    travel — and the result bumps past the timeline MAX, not just past
    collisions."""
    import re

    names = tablefs.list_dir(spark, f"{path}/.hoodie") or []
    existing = set()
    for n in names:
        m = re.match(r"^(\d+)\.", n)
        if m:
            existing.add(m.group(1))
    now = time.time()
    t = time.strftime(
        "%Y%m%d%H%M%S", time.localtime(now)
    ) + f"{int(now * 1000) % 1000:03d}"
    hi = max(existing, default="")
    while t <= hi or t in existing:
        t = str(int(t) + 1)
    return t


def _publish_instant_if_absent(
    spark: SparkSession, path: str, name: str, body: str
) -> bool:
    return tablefs.publish_if_absent(
        spark, f"{path}/.hoodie", name, body.encode("utf-8")
    )


def hudi_write(
    df: DataFrame,
    path: str,
    mode: str = "error",
    record_key: str | list[str] = "id",
    partition_by: list[str] | None = None,
    table_type: str = "COPY_ON_WRITE",
) -> str:
    """Write ``df`` as a spec-layout Hudi table without the Hudi jar;
    returns the committed instant time. ``table_type="MERGE_ON_READ"``
    creates an MoR table (inserts publish as ``deltacommit`` per the
    timeline spec; row-level changes then flow through
    ``hudi_delta_upsert`` / ``hudi_delta_delete`` as log files). See
    the module docstring for modes and documented deviations."""
    if mode not in ("error", "append", "overwrite"):
        raise ValueError(f"unsupported mode {mode!r}")
    if table_type not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        raise ValueError(f"unsupported table_type {table_type!r}")
    spark = df.sparkSession
    keys = [record_key] if isinstance(record_key, str) else list(record_key)
    missing = [k for k in keys if k not in df.columns]
    if missing:
        raise ValueError(f"record key columns not in DataFrame: {missing}")
    try:
        props = load_table_properties(spark, path)
        exists = True
    except FileNotFoundError:
        props, exists = {}, False
    if exists and mode == "error":
        raise ValueError(f"Hudi table already exists at {path} (mode='error')")
    if exists:
        partition_by = [
            p
            for p in (
                props.get("hoodie.table.partition.fields", "") or ""
            ).split(",")
            if p
        ]
        table_type = props.get("hoodie.table.type", "COPY_ON_WRITE")
    partition_by = list(partition_by or [])

    instant = _next_instant(spark, path)
    # previous live groups (for overwrite retirement), resolved BEFORE
    # the new files land
    replaced: dict[str, set[str]] = {}
    if exists and mode == "overwrite":
        for part, fid in _live_groups(spark, path):
            replaced.setdefault(part, set()).add(fid)
    op = "INSERT" if mode != "overwrite" else "INSERT_OVERWRITE_TABLE"
    return _insert_batch(
        df, path, keys, partition_by, replaced, exists, instant, op,
        table_type=table_type,
    )


def _live_groups(spark: SparkSession, path: str):
    """(partition relpath, fileId) of every live file group."""
    root = tablefs.qualified_root(spark, path)
    for f in hudi_snapshot_files(spark, path):
        name = f.rsplit("/", 1)[1]
        fid = name.split("_", 1)[0]
        rel = f[len(root) + 1 :]
        part = rel.rsplit("/", 1)[0] if "/" in rel else ""
        yield part, fid


def _insert_batch(
    df: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str],
    replaced: dict,
    exists: bool,
    instant: str,
    operation: str,
    table_type: str = "COPY_ON_WRITE",
) -> str:
    """Enrich with meta columns, stage distributed, move into
    spec-named file groups, publish the timeline instant if-absent
    (``replacecommit`` when groups retire, ``commit`` otherwise).

    A ``__commit_time`` column, when present, carries each row's
    record-level ``_hoodie_commit_time`` instead of the batch instant —
    how a CoW upsert's rewritten-but-unchanged remainder rows keep
    their true last-change instant (Hudi's meta-field contract; the
    incremental query depends on it)."""
    spark = df.sparkSession
    # ---- meta columns + staging --------------------------------------
    commit_expr = (
        F.col("__commit_time")
        if "__commit_time" in df.columns
        else F.lit(instant)
    )
    data_out = [c for c in df.columns if c != "__commit_time"]
    key_expr = F.concat_ws(",", *[F.col(k).cast("string") for k in keys])
    part_path_expr = (
        F.concat_ws(
            "/",
            *[
                F.concat(
                    F.lit(f"{c}="),
                    F.coalesce(
                        F.col(c).cast("string"),
                        F.lit("__HIVE_DEFAULT_PARTITION__"),
                    ),
                )
                for c in partition_by
            ],
        )
        if partition_by
        else F.lit("")
    )
    file_id = uuid.uuid4().hex  # one logical group id per write batch
    enriched = df.select(
        commit_expr.alias("_hoodie_commit_time"),
        F.concat(
            F.lit(instant + "_"), F.monotonically_increasing_id().cast("string")
        ).alias("_hoodie_commit_seqno"),
        key_expr.alias("_hoodie_record_key"),
        part_path_expr.alias("_hoodie_partition_path"),
        F.lit(file_id).alias("_hoodie_file_name"),
        *data_out,
    )
    shadows = []
    for c in partition_by:
        sh = f"__hudipart_{c}"
        enriched = enriched.withColumn(sh, F.col(c))
        shadows.append(sh)
    staging = f"{path}/.staging-{uuid.uuid4().hex}"
    writer = enriched.write.mode("overwrite")
    if shadows:
        writer = writer.partitionBy(*shadows)
    writer.parquet(staging)

    # names read off the disk join decoded roots (see tablefs.staged_files)
    table_root = tablefs.local_root(path) or path
    src = tablefs.local_root(staging) or staging

    write_stats: dict[str, list[dict]] = {}
    marked: set[str] = set()
    seq = 0
    for rel, fsize, _ in tablefs.staged_files(spark, staging):
        if not rel.endswith(".parquet"):
            continue
        segs = rel.split("/")
        clean = []
        for seg in segs[:-1]:
            k, _, v = seg.partition("=")
            if k.startswith("__hudipart_"):
                k = k[len("__hudipart_") :]
            clean.append(f"{k}={v}")
        part = "/".join(clean)
        fid = f"{file_id}-{seq}"
        seq += 1
        new_name = f"{fid}_0-{seq}-0_{instant}.parquet"
        pm_body = (
            "#partition metadata\n"
            f"commitTime={instant}\n"
            f"partitionDepth={len(clean)}\n"
        ).encode()
        dest_dir = f"{table_root}/{part}" if part else table_root
        tablefs.move(spark, f"{src}/{rel}", f"{dest_dir}/{new_name}")
        if dest_dir not in marked:  # per-partition marker Hudi readers expect
            tablefs.publish_if_absent(
                spark, dest_dir, ".hoodie_partition_metadata", pm_body
            )
            marked.add(dest_dir)
        write_stats.setdefault(part, []).append(
            {
                "fileId": fid,
                "path": f"{part}/{new_name}" if part else new_name,
                "fileSizeInBytes": fsize,
            }
        )
    tablefs.remove(spark, staging, recursive=True)

    if not exists:
        props_body = (
            "#Updated at write time\n"
            "hoodie.table.name=" + path.rstrip("/").rsplit("/", 1)[1] + "\n"
            "hoodie.table.type=" + table_type + "\n"
            "hoodie.table.version=6\n"
            "hoodie.table.recordkey.fields=" + ",".join(keys) + "\n"
            "hoodie.table.partition.fields=" + ",".join(partition_by) + "\n"
        )
        tablefs.write_file(
            spark, f"{path}/.hoodie/hoodie.properties", props_body.encode()
        )

    meta = {
        "partitionToWriteStats": write_stats,
        "operationType": operation,
    }
    if replaced:
        meta["partitionToReplaceFileIds"] = {
            p: sorted(ids) for p, ids in replaced.items()
        }
        action = "replacecommit"
    else:
        # MoR timelines publish writes as deltacommit actions
        action = "deltacommit" if table_type == "MERGE_ON_READ" else "commit"
    if not _publish_instant_if_absent(
        spark, path, f"{instant}.{action}", json.dumps(meta, indent=2)
    ):
        raise HudiConcurrentWrite(
            f"instant {instant} at {path} was committed by another writer"
        )
    return instant


def hudi_upsert(
    spark: SparkSession,
    path: str,
    source: DataFrame,
) -> str:
    """UPSERT into an existing Hudi CoW table by its record key —
    delete-insert semantics published as ONE atomic ``replacecommit``:
    file groups containing matched keys retire
    (``partitionToReplaceFileIds``), their unmatched rows rewrite into
    new groups alongside every source row, and readers flip from the
    old groups to the new ones at the single timeline instant — the
    same mechanism Hudi's own clustering/insert_overwrite uses, so
    snapshot isolation and ``as_of`` time travel hold throughout.
    Record-key columns come from ``hoodie.properties``. Unmatched file
    groups are untouched (write volume ∝ affected groups)."""
    props = load_table_properties(spark, path)
    keys = [
        k
        for k in (props.get("hoodie.table.recordkey.fields", "") or "").split(",")
        if k
    ]
    if not keys:
        raise ValueError(
            "hoodie.table.recordkey.fields missing — cannot upsert "
            "without record keys"
        )
    partition_by = [
        p
        for p in (props.get("hoodie.table.partition.fields", "") or "").split(",")
        if p
    ]
    missing = [k for k in keys if k not in source.columns]
    if missing:
        raise ValueError(f"record key columns not in source: {missing}")

    files = hudi_snapshot_files(spark, path)
    snap = (
        spark.read.parquet(*files)
        .withColumn("__file", F.col("_metadata.file_path"))
    )
    data_cols = [
        c for c in snap.columns if c not in _META_COLS and c != "__file"
    ]
    src = source.select(*data_cols).localCheckpoint(eager=True)
    key_df = src.select(*keys).distinct()
    hit = (
        snap.join(key_df, keys, "left_semi")
        .select("__file")
        .distinct()
        .collect()
    )
    if not hit:
        # nothing matched: a plain insert commit
        instant = _next_instant(spark, path)
        return _insert_batch(
            src, path, keys, partition_by, {}, True, instant, "UPSERT"
        )
    import urllib.parse as _up

    replaced: dict[str, set[str]] = {}
    hit_paths = sorted({r["__file"] for r in hit})
    from simple_data_workflow_spark.sources.delta_reader import _cmp_path, _strip_scheme

    root = _strip_scheme(tablefs.qualified_root(spark, path))
    for p_ in hit_paths:
        local = _cmp_path(p_)  # scan spelling percent-encodes; the
        # partition/rel derivation below needs the DECODED path
        name = local.rsplit("/", 1)[1]
        fid = name.split("_", 1)[0]
        rel = local[len(root) + 1 :]
        part = rel.rsplit("/", 1)[0] if "/" in rel else ""
        replaced.setdefault(part, set()).add(fid)
    instant = _next_instant(spark, path)
    # remainder rows are rewritten-but-UNCHANGED: they keep their
    # record-level commit time (real Hudi's merge-handle behavior), so
    # the incremental query never re-emits them; only the source rows
    # stamp the new instant
    commit_src = (
        F.col("_hoodie_commit_time")
        if "_hoodie_commit_time" in snap.columns
        else F.lit(instant)
    )
    remainder = (
        snap.where(F.col("__file").isin(*hit_paths))
        .select(*data_cols, commit_src.alias("__commit_time"))
        .join(key_df, keys, "left_anti")
    )
    batch = remainder.unionByName(
        src.withColumn("__commit_time", F.lit(instant))
    )
    return _insert_batch(
        batch, path, keys, partition_by, replaced, True, instant, "UPSERT"
    )


# ---------------------------------------------------------------------------
# merge-on-read writes (round 11): log-file upserts and deletes.
# ---------------------------------------------------------------------------


def _avro_log_schema(fields) -> str:
    """Flat [null, primitive]-union Avro schema for log records: the
    data columns plus ``_hoodie_record_key`` (the merge key)."""
    from simple_data_workflow_spark.sources.hudi_reader import (
        _avro_prim_for,
    )

    avro_fields = [
        {
            "name": "_hoodie_record_key",
            "type": ["null", "string"],
            "default": None,
        }
    ]
    for f in fields:
        avro_fields.append(
            {
                "name": f.name,
                "type": ["null", _avro_prim_for(f.dataType)],
                "default": None,
            }
        )
    return json.dumps(
        {"type": "record", "name": "hudi_log_record", "fields": avro_fields}
    )


def _executor_root(path: str) -> str:
    """Local table root for the executor-side ``open()`` writes (MoR log
    files, compacted bases). Other schemes are refused: those writes
    would land on each executor's own disk."""
    root = tablefs.local_root(path)
    if root is None:
        raise NotImplementedError(
            f"Hudi log and compaction writes need a local or mounted table root, got {path!r}"
        )
    return root


def _mor_context(spark: SparkSession, path: str):
    """(props, keys, groups, logs, next log version per group, local
    table root) for a MERGE_ON_READ table."""
    from simple_data_workflow_spark.sources.hudi_reader import (
        HudiFeatureUnsupported,
        _resolve_groups,
        load_table_properties,
    )

    props = load_table_properties(spark, path)
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise HudiFeatureUnsupported(
            "log-file writes need a MERGE_ON_READ table (create with "
            "hudi_write(..., table_type='MERGE_ON_READ'))"
        )
    keys = [
        k
        for k in (props.get("hoodie.table.recordkey.fields", "") or "").split(",")
        if k
    ]
    groups, logs, _c, _r = _resolve_groups(spark, path)
    next_version = {
        f"{part}\x00{fid}": (max((v for v, _p in logs.get((part, fid), [])), default=0) + 1)
        for (part, fid) in groups
    }
    return props, keys, groups, logs, next_version, _executor_root(path)


def _base_keymap(spark: SparkSession, path: str, groups: dict):
    """Distributed (record key -> file group) map from the base files:
    one scan of ``_hoodie_record_key`` + file provenance, joined with a
    metadata-sized broadcast of (path -> group, partition, base
    instant)."""
    import urllib.parse as _up

    from simple_data_workflow_spark.sources.delta_reader import (
        _scan_spelling,
    )

    base_files = sorted(p for _, p in groups.values())
    # keyed by BOTH spellings: the scan column percent-encodes special
    # chars (space-valued partition paths), timeline paths are decoded
    rows = {}
    for (part, fid), (instant, full) in groups.items():
        loc = _up.urlparse(full).path if "://" in full else full
        tup = (f"{part}\x00{fid}", part, fid, instant)
        rows[loc] = tup
        rows[_scan_spelling(loc)] = tup
    from simple_data_workflow_spark.smalldf import small_df

    mapdf = small_df(
        spark,
        [(k, *v) for k, v in sorted(rows.items())],
        "__fk string, __group string, __part string, __fid string, "
        "__binstant string",
    )
    return (
        spark.read.parquet(*base_files)
        .select(
            F.col("_hoodie_record_key").alias("__key"),
            F.regexp_replace(
                F.col("_metadata.file_path"), "^file:/+", "/"
            ).alias("__fk"),
        )
        .join(F.broadcast(mapdf), "__fk")
        .select("__key", "__group", "__part", "__fid", "__binstant")
    )


def _write_group_logs(
    grouped,
    out_schema,
    root_local: str,
    instant: str,
    make_content,
):
    """applyInPandas body factory: each file group's pandas frame
    writes ONE log file (created exclusively — a name collision means
    a concurrent writer, and the publish-if-absent on the deltacommit
    is the real commit point) and yields its write-stats row.
    Executor-side ``open()`` — local/shared filesystems, the same
    assumption the test/bench environment runs under."""

    def write_one(pdf):
        import os as _os

        import pandas as _pd

        group = pdf["__group"].iloc[0]
        part, fid = group.split("\x00")
        binstant = pdf["__binstant"].iloc[0]
        version = int(pdf["__version"].iloc[0])
        token = "0-1-0"
        name = f".{fid}_{binstant}.log.{version}_{token}"
        dest_dir = f"{root_local}/{part}" if part else root_local
        _os.makedirs(dest_dir, exist_ok=True)
        dest = f"{dest_dir}/{name}"
        data = make_content(pdf, instant)
        with open(dest, "xb") as f:
            f.write(data)
        rel = f"{part}/{name}" if part else name
        return _pd.DataFrame(
            [
                {
                    "partition": part,
                    "fileId": fid,
                    "path": rel,
                    "fileSizeInBytes": len(data),
                    "numRows": len(pdf),
                }
            ]
        )

    return grouped.applyInPandas(write_one, out_schema)


_LOG_STATS_SCHEMA = (
    "partition string, fileId string, path string, "
    "fileSizeInBytes long, numRows long"
)


def _publish_delta(spark, path, instant, stats_rows, operation) -> str:
    write_stats: dict[str, list[dict]] = {}
    for r in stats_rows:
        write_stats.setdefault(r["partition"], []).append(
            {
                "fileId": r["fileId"],
                "path": r["path"],
                "fileSizeInBytes": int(r["fileSizeInBytes"]),
            }
        )
    meta = {
        "partitionToWriteStats": write_stats,
        "operationType": operation,
    }
    if not _publish_instant_if_absent(
        spark, path, f"{instant}.deltacommit", json.dumps(meta, indent=2)
    ):
        raise HudiConcurrentWrite(
            f"instant {instant} at {path} was committed by another writer"
        )
    return instant


def hudi_delta_upsert(spark: SparkSession, path: str, source: DataFrame) -> str:
    """UPSERT into a MERGE_ON_READ table: rows whose record key lives
    in an existing file group append to that group's LOG file (one
    spec-shaped Avro data block per group, written executor-side by an
    ``applyInPandas`` over the group partitioning — write cost ∝
    changed rows); rows with NEW keys land as base files of new file
    groups. Everything publishes under deltacommit instants (updates
    first, then inserts when both kinds are present). Returns the last
    committed instant."""
    from simple_data_workflow_spark.sources import hudi_log as hlog

    props, keys, groups, logs, next_version, root_local = _mor_context(
        spark, path
    )
    missing = [k for k in keys if k not in source.columns]
    if missing:
        raise ValueError(f"record key columns not in source: {missing}")
    data_fields = [f for f in source.schema.fields]
    schema_json = _avro_log_schema(data_fields)
    key_expr = F.concat_ws(",", *[F.col(k).cast("string") for k in keys])
    # source-sized (the changed rows) — LAZY checkpoint materialized by
    # the count below, so sizing the batch costs no extra job
    src = source.withColumn("__key", key_expr).localCheckpoint(eager=False)
    keymap = _base_keymap(spark, path, groups)
    n_src = src.count()
    # key→group attachment (guide §3.2/§8: decide with small rows): the
    # keymap is TABLE-sized (one row per base record), so joining src
    # against it plainly shuffles the whole table per edit batch. When
    # the batch is bounded, semi-filter the keymap with a broadcast of
    # the batch's key set FIRST — the base scan then never exchanges
    # (broadcast semi), the filtered keymap is edit-sized, and AQE
    # broadcasts it into the outer join at runtime. Above the cap (edit
    # batches that rival the table) the plain shuffle join is the right
    # plan and stays.
    from simple_data_workflow_spark.session import driver_memory_bytes

    bc_cap = min(64 * 1024**2, driver_memory_bytes(spark) // 16)
    if n_src * 64 <= bc_cap:  # ~64 B per broadcast key string
        # no .distinct() on the broadcast build: duplicate keys cannot
        # change a left_semi's result and the dedup would cost a
        # shuffle job inside the broadcast build
        keymap = keymap.join(
            F.broadcast(src.select("__key")), "__key", "left_semi"
        )
        # the semi-filtered keymap is edit-sized — broadcast it into
        # the outer join as well, so NEITHER join side exchanges
        keymap = F.broadcast(keymap)
    # ONE join, checkpointed lazily: the single fused gate aggregate
    # below materializes it AND sizes both splits — replacing the
    # previous eager-materialize + matched.limit(1).count() +
    # inserts.limit(1).count() (three separate jobs) with one
    joined = src.join(keymap, "__key", "left").localCheckpoint(eager=False)
    gate = joined.agg(
        F.count("__group").alias("m"), F.count(F.lit(1)).alias("t")
    ).first()
    n_matched, n_total = int(gate["m"]), int(gate["t"])
    matched = joined.where(F.col("__group").isNotNull())
    inserts = joined.where(F.col("__group").isNull()).drop(
        "__key", "__group", "__part", "__fid", "__binstant"
    )
    last_instant = None

    if n_matched > 0:
        instant = _next_instant(spark, path)
        data_cols = [f.name for f in data_fields]

        def make_content(pdf, inst):
            # column-wise .tolist() (numpy scalars -> Python natives)
            # instead of iterrows(): same values, ~10x less per-row
            # pandas overhead in the executor's write task
            keys_l = pdf["__key"].tolist()
            col_vals = [pdf[c].tolist() for c in data_cols]
            rows = []
            for i, key in enumerate(keys_l):
                rec = {"_hoodie_record_key": key}
                for c, vals in zip(data_cols, col_vals):
                    v = vals[i]
                    rec[c] = None if v is None or (v != v) else v
                rows.append(rec)
            return hlog.encode_avro_data_block(inst, schema_json, rows)

        from simple_data_workflow_spark.smalldf import small_df

        vmap = small_df(
            spark,
            [(g, v) for g, v in next_version.items()],
            "__group string, __version int",
        )
        stats = _write_group_logs(
            matched.join(F.broadcast(vmap), "__group").groupBy("__group"),
            _LOG_STATS_SCHEMA,
            root_local,
            instant,
            make_content,
        ).collect()
        last_instant = _publish_delta(spark, path, instant, stats, "UPSERT")
    if n_total - n_matched > 0:
        part_fields = [
            p
            for p in (
                props.get("hoodie.table.partition.fields", "") or ""
            ).split(",")
            if p
        ]
        instant = _next_instant(spark, path)
        last_instant = _insert_batch(
            inserts,
            path,
            keys,
            part_fields,
            {},
            True,
            instant,
            "UPSERT",
            table_type="MERGE_ON_READ",
        )
    if last_instant is None:
        # nothing to do — report the latest completed instant
        from simple_data_workflow_spark.sources.hudi_reader import _timeline

        commits, replaces = _timeline(spark, path)
        return max(commits | replaces)
    return last_instant


def hudi_delta_delete(spark: SparkSession, path: str, predicate: str) -> str:
    """DELETE FROM a MERGE_ON_READ table WHERE ``predicate``: matching
    rows of the CURRENT merged view resolve to (file group, record
    key) pairs, and each affected group appends one spec-shaped DELETE
    block to its log file — cost ∝ deleted rows, no base-file
    rewrites. Returns the committed instant (or the latest completed
    one when nothing matched)."""
    from simple_data_workflow_spark.sources import hudi_log as hlog
    from simple_data_workflow_spark.sources.hudi_reader import _mor_read

    _props, _keys, groups, logs, next_version, root_local = _mor_context(
        spark, path
    )
    view = _mor_read(spark, path, _provenance=True)
    # materialize the hit set once (∝ deleted rows) — the probe and the
    # per-group log writes reuse it instead of re-merging the table;
    # LAZY checkpoint so the emptiness gate below is also the
    # materializing action (one job, not two)
    hits = (
        view.where(predicate)
        .select("__group", "__key")
        .localCheckpoint(eager=False)
    )
    if hits.count() == 0:
        from simple_data_workflow_spark.sources.hudi_reader import _timeline

        commits, replaces = _timeline(spark, path)
        return max(commits | replaces)
    instant = _next_instant(spark, path)

    def make_content(pdf, inst):
        return hlog.encode_delete_block(inst, sorted(pdf["__key"]))

    from simple_data_workflow_spark.smalldf import small_df

    ctx = small_df(
        spark,
        [
            (g, v, groups[tuple(g.split("\x00"))][0])
            for g, v in next_version.items()
        ],
        "__group string, __version int, __binstant string",
    )
    stats = _write_group_logs(
        hits.join(F.broadcast(ctx), "__group").groupBy("__group"),
        _LOG_STATS_SCHEMA,
        root_local,
        instant,
        make_content,
    ).collect()
    return _publish_delta(spark, path, instant, stats, "DELETE")


def hudi_compact(spark: SparkSession, path: str) -> str | None:
    """Compact a MERGE_ON_READ table: every file group carrying log
    files rewrites its merged rows as a NEW base slice at a fresh
    instant (same fileId — the name convention then makes the reader
    pick the new slice and drop the old slice's logs automatically),
    published as a completed ``commit`` action, Hudi's compaction
    shape. Fully distributed: each group's merge happens in the MoR
    read plan and its new base file writes executor-side
    (``applyInPandas`` per group). Returns the committed instant, or
    None when no group has logs. Pre-compaction instants stay
    time-travelable (``as_of`` resolves the OLD slice + its logs)."""
    import pandas as _pd

    from simple_data_workflow_spark.sources.hudi_reader import (
        _mor_read,
        _resolve_groups,
        load_table_properties,
    )

    props = load_table_properties(spark, path)
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise ValueError("hudi_compact targets MERGE_ON_READ tables")
    groups, logs, _c, _r = _resolve_groups(spark, path)
    logged = {f"{part}\x00{fid}" for (part, fid) in logs}
    if not logged:
        return None
    root_local = _executor_root(path)
    instant = _next_instant(spark, path)

    view = _mor_read(spark, path, _provenance=True)
    victims = view.where(F.col("__group").isin(*sorted(logged)))
    data_cols = [
        c for c in victims.columns if c not in ("__group", "__key", "__commit")
    ]

    out_schema = (
        "partition string, fileId string, path string, "
        "fileSizeInBytes long, numRows long"
    )

    def write_base(pdf):
        import os as _os

        import pyarrow as _pa
        import pyarrow.parquet as _pq

        group = pdf["__group"].iloc[0]
        part, fid = group.split("\x00")
        name = f"{fid}_0-1-0_{instant}.parquet"
        dest_dir = f"{root_local}/{part}" if part else root_local
        _os.makedirs(dest_dir, exist_ok=True)
        dest = f"{dest_dir}/{name}"
        body = pdf[data_cols].copy()
        n = len(body)
        meta = _pd.DataFrame(
            {
                # preserve each record's LAST-CHANGE instant (Hudi's
                # compaction contract: meta fields carry over, so the
                # incremental query never re-emits compacted-but-
                # unchanged records)
                "_hoodie_commit_time": pdf["__commit"].tolist(),
                "_hoodie_commit_seqno": [
                    f"{instant}_{i}" for i in range(n)
                ],
                "_hoodie_record_key": pdf["__key"].tolist(),
                "_hoodie_partition_path": [part] * n,
                "_hoodie_file_name": [fid] * n,
            }
        )
        tbl = _pa.Table.from_pandas(
            _pd.concat(
                [meta.reset_index(drop=True), body.reset_index(drop=True)],
                axis=1,
            ),
            preserve_index=False,
        )
        tmp = dest + f".__tmp{_os.getpid()}__"
        _pq.write_table(tbl, tmp)
        _os.rename(tmp, dest)
        rel = f"{part}/{name}" if part else name
        return _pd.DataFrame(
            [
                {
                    "partition": part,
                    "fileId": fid,
                    "path": rel,
                    "fileSizeInBytes": _os.path.getsize(dest),
                    "numRows": n,
                }
            ]
        )

    stats = (
        victims.groupBy("__group").applyInPandas(write_base, out_schema)
    ).collect()
    write_stats: dict[str, list[dict]] = {}
    for r in stats:
        write_stats.setdefault(r["partition"], []).append(
            {
                "fileId": r["fileId"],
                "path": r["path"],
                "fileSizeInBytes": int(r["fileSizeInBytes"]),
            }
        )
    # a logged group whose merged view is EMPTY (every record deleted)
    # never reaches applyInPandas — write its empty base slice
    # driver-side (schema-only parquet, metadata-sized) so the old
    # slice's logs stop attaching
    done = {f"{r['partition']}\x00{r['fileId']}" for r in stats}
    empty_groups = sorted(logged - done)
    if empty_groups:
        import os as _os

        import pyarrow as _pa
        import pyarrow.parquet as _pq
        from pyspark.sql.pandas.types import to_arrow_schema

        data_arrow = to_arrow_schema(
            victims.drop("__group", "__key", "__commit").schema
        )
        meta_fields = [
            _pa.field(c, _pa.string())
            for c in (
                "_hoodie_commit_time",
                "_hoodie_commit_seqno",
                "_hoodie_record_key",
                "_hoodie_partition_path",
                "_hoodie_file_name",
            )
        ]
        empty_schema = _pa.schema(meta_fields + list(data_arrow))
        for group in empty_groups:
            part, fid = group.split("\x00")
            name = f"{fid}_0-1-0_{instant}.parquet"
            dest_dir = f"{root_local}/{part}" if part else root_local
            _os.makedirs(dest_dir, exist_ok=True)
            dest = f"{dest_dir}/{name}"
            _pq.write_table(empty_schema.empty_table(), dest)
            rel = f"{part}/{name}" if part else name
            write_stats.setdefault(part, []).append(
                {
                    "fileId": fid,
                    "path": rel,
                    "fileSizeInBytes": _os.path.getsize(dest),
                }
            )
    meta = {
        "partitionToWriteStats": write_stats,
        "operationType": "COMPACT",
    }
    # compaction publishes a completed COMMIT action (per the timeline
    # spec) — the new base slices become the groups' latest
    if not _publish_instant_if_absent(
        spark, path, f"{instant}.commit", json.dumps(meta, indent=2)
    ):
        raise HudiConcurrentWrite(
            f"instant {instant} at {path} was committed by another writer"
        )
    return instant


def hudi_cluster(
    spark: SparkSession,
    path: str,
    sort_by: list[str],
    n_file_groups: int | None = None,
) -> str | None:
    """CLUSTERING (Hudi's sort-based ``cluster`` table service): rewrite
    the live file groups into new, ``sort_by``-ordered groups published
    as ONE ``replacecommit`` — readers flip atomically, pre-clustering
    instants stay time-travelable, and record-level
    ``_hoodie_commit_time`` carries over (clustering produces NO record
    versions, so the incremental query never re-emits clustered rows).
    Layout: a range repartition on ``sort_by`` (the only global
    movement) + in-partition sort, so parquet row-group stats become
    selective for ``sort_by`` predicates. ``n_file_groups`` defaults to
    the current live group count. MERGE_ON_READ tables with pending log
    files refuse (run ``hudi_compact`` first — clustering must not
    silently drop log records); returns the committed instant, or None
    for an empty table."""
    from simple_data_workflow_spark.sources.hudi_reader import (
        _resolve_groups,
        hudi_read,
        load_table_properties,
    )

    props = load_table_properties(spark, path)
    groups, logs, _c, _r = _resolve_groups(spark, path)
    if not groups:
        return None
    if logs and any(lst for lst in logs.values()):
        raise ValueError(
            "clustering a MERGE_ON_READ table with pending log files "
            "would drop their records — run hudi_compact first"
        )
    partition_by = [
        p
        for p in (props.get("hoodie.table.partition.fields", "") or "").split(",")
        if p
    ]
    keys = [
        k
        for k in (props.get("hoodie.table.recordkey.fields", "") or "").split(",")
        if k
    ]
    snap = hudi_read(spark, path, include_meta=True)
    bad = [c for c in sort_by if c not in snap.columns]
    if bad:
        raise ValueError(f"sort_by columns not in table: {bad}")
    data_cols = [c for c in snap.columns if not c.startswith("_hoodie_")]
    n = int(n_file_groups or len(groups))
    batch = (
        snap.select(
            *data_cols,
            F.col("_hoodie_commit_time").alias("__commit_time"),
        )
        .repartitionByRange(max(n, 1), *[F.col(c) for c in sort_by])
        .sortWithinPartitions(*sort_by)
    )
    replaced: dict[str, set[str]] = {}
    for part, fid in groups:
        replaced.setdefault(part, set()).add(fid)
    instant = _next_instant(spark, path)
    return _insert_batch(
        batch, path, keys, partition_by, replaced, True, instant, "CLUSTER",
        table_type=props.get("hoodie.table.type", "COPY_ON_WRITE"),
    )


def hudi_clean(
    spark: SparkSession, path: str, retain_commits: int = 10
) -> list[str]:
    """Hudi's CLEANER (KEEP_LATEST_COMMITS policy): per file group,
    delete base slices (and their attached log files) that are OLDER
    than the slice a reader as-of the retention horizon would pick —
    the newest ``retain_commits`` completed instants stay fully
    time-travelable, older slices that have been superseded reap.
    Returns the deleted paths. The current slice of every group always
    survives (a group written once and never rewritten is never
    touched, no matter how old)."""
    import re as _re

    from simple_data_workflow_spark.sources.hudi_reader import (
        _resolve_groups,
        _timeline,
    )

    commits, replaces = _timeline(spark, path)
    completed = sorted(commits | replaces)
    if len(completed) <= retain_commits:
        return []
    horizon = completed[-retain_commits]  # oldest instant to keep fully
    groups, logs, _c, _r = _resolve_groups(spark, path)
    # the slice a reader at the horizon would resolve per group: the
    # newest slice with instant <= horizon — everything older reaps
    keep_floor: dict[tuple[str, str], str] = {}
    all_slices: dict[tuple[str, str], list[tuple[str, str]]] = {}
    base_re = _re.compile(
        r"^(?P<fid>.+?)_(?P<token>[^_]+)_(?P<instant>\d+)\.parquet$"
    )
    files = [
        rel
        for rel, _, _ in tablefs.staged_files(
            spark, path, skip=lambda d: d == ".hoodie"
        )
    ]
    for rel in files:
        part, _, name = rel.rpartition("/")
        m = base_re.match(name)
        if not m or m.group("instant") not in (commits | replaces):
            continue
        key = (part, m.group("fid"))
        all_slices.setdefault(key, []).append((m.group("instant"), rel))
    for key, slices in all_slices.items():
        slices.sort()
        at_horizon = [t for t, _f in slices if t <= horizon]
        if at_horizon:
            keep_floor[key] = at_horizon[-1]
        else:
            keep_floor[key] = slices[0][0]  # nothing at/below: keep all

    deleted: list[str] = []
    log_re = _re.compile(
        r"^\.(?P<fid>.+)_(?P<binstant>\d+)\.log\.(?P<v>\d+)_(?P<tok>.+)$"
    )
    dead_bases: dict[tuple[str, str], set[str]] = {}
    for key, slices in all_slices.items():
        floor = keep_floor[key]
        for t, rel in slices:
            if t < floor:
                deleted.append(rel)
                dead_bases.setdefault(key, set()).add(t)
    # logs attached to reaped base slices reap with them
    for rel in files:
        part, _, name = rel.rpartition("/")
        m = log_re.match(name)
        if m and m.group("binstant") in dead_bases.get((part, m.group("fid")), ()):
            deleted.append(rel)
    root = tablefs.qualified_root(spark, path)
    deleted = [rel for rel in deleted if tablefs.remove(spark, f"{root}/{rel}")]
    return sorted(f"{root}/{rel}" for rel in deleted)
