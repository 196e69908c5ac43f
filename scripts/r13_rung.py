"""Round-13 scale-rung evidence (VERDICT r12 #1, #2, #9).

Part A — Delta snapshot-state file-count sweep (VERDICT r12 #1): a
checkpointed table whose checkpoint carries N synthetic add actions
(N = 1k / 4k / 16k / 64k) plus a small JSON tail (removes + re-adds,
so the Acero last-wins path actually runs). Per rung record:

- ``resolve_wall_s``      — replay_snapshot() wall;
- ``retained_py_mb``      — Python-allocator bytes RETAINED while the
  snapshot is held (tracemalloc; claim under test: FLAT in N — the
  state lives in Arrow buffers, not PyObjects);
- ``arrow_state_mb``      — the Arrow table's own buffers (expected to
  grow ~linearly in N: that is the compact columnar state itself);
- ``legacy_dict_mb``      — what the pre-round-13 path retained: the
  fully-materialized {path: add-dict} map, measured by building it
  from the same snapshot (contrast line).

Part B — DV DML with a ``file://``-scheme root (VERDICT r12 #2): the
r12 part-A sweep re-run with a scheme'd table root. Claim: the
EXECUTOR sidecar path now engages on scheme'd roots (gate is row
count, not path scheme) and driver Python peaks stay flat across a
64x matched-row sweep.

Part C — (VERDICT r12 #9) sf3 decade for the two DML hot paths,
appended when run with ``c``.

Output: evidence/r13_rung.jsonl (one JSON line per measurement).
Usage: python scripts/r13_rung.py [a|b|c|all]
"""

from __future__ import annotations

import gc
import json
import os
import sys
import tempfile
import time
import tracemalloc
import uuid

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from simple_data_workflow_spark.session import get_spark  # noqa: E402

OUT = "/root/repo/evidence/r13_rung.jsonl"


def emit(rec):
    with open(OUT, "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps(rec), flush=True)


def _synth_checkpointed_table(spark, root: str, n_files: int) -> None:
    """A real (small) Delta table whose checkpoint is rewritten to
    carry ``n_files`` synthetic adds, plus a JSON tail with 64 removes
    and 64 re-adds — resolution exercises checkpoint seeding AND the
    Acero last-wins path. The synthetic files are never scanned; this
    measures snapshot RESOLUTION, exactly the state the verdict
    flagged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_data_workflow_spark.sources.delta_state import (
        ADDS_SCHEMA,
    )
    from simple_data_workflow_spark.sources.delta_writer import delta_write

    delta_write(
        spark.range(10).select(
            F.col("id"), (F.col("id") % 7).cast("double").alias("v")
        ),
        root,
        mode="error",
        partition_by=["v"],
    )
    # checkpoint with n_files synthetic adds (stats + partitionValues,
    # the full-fidelity shape a real checkpoint carries)
    rows = []
    for i in range(n_files):
        rows.append(
            {
                "path": f"v={i % 31}/part-{i:08d}-{uuid.uuid4().hex}.parquet",
                "partitionValues": {"v": str(i % 31)},
                "size": 1_000_000 + i,
                "modificationTime": 1_700_000_000_000 + i,
                "dataChange": True,
                "stats": json.dumps(
                    {
                        "numRecords": 10_000,
                        "minValues": {"id": i * 10_000},
                        "maxValues": {"id": (i + 1) * 10_000 - 1},
                        "nullCount": {"id": 0},
                    }
                ),
                "deletionVector": None,
                "extra": None,
            }
        )
    adds_t = pa.Table.from_pylist(rows, schema=ADDS_SCHEMA)
    kv = pa.map_(pa.string(), pa.string())
    add_struct_t = pa.struct(
        [
            pa.field("path", pa.string()),
            pa.field("partitionValues", kv),
            pa.field("size", pa.int64()),
            pa.field("modificationTime", pa.int64()),
            pa.field("dataChange", pa.bool_()),
            pa.field("stats", pa.string()),
        ]
    )
    struct = pa.StructArray.from_arrays(
        [
            adds_t.column(f.name).combine_chunks()
            for f in add_struct_t
        ],
        fields=list(add_struct_t),
    )
    meta = {
        "id": str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": []},
        "schemaString": json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": "id", "type": "long", "nullable": True,
                     "metadata": {}},
                    {"name": "v", "type": "double", "nullable": True,
                     "metadata": {}},
                ],
            }
        ),
        "partitionColumns": ["v"],
        "configuration": [],
        "createdTime": 1_700_000_000_000,
    }
    meta_t = pa.struct(
        [
            pa.field("id", pa.string()),
            pa.field(
                "format",
                pa.struct(
                    [pa.field("provider", pa.string()), pa.field("options", kv)]
                ),
            ),
            pa.field("schemaString", pa.string()),
            pa.field("partitionColumns", pa.list_(pa.string())),
            pa.field("configuration", kv),
            pa.field("createdTime", pa.int64()),
        ]
    )
    proto_t = pa.struct(
        [
            pa.field("minReaderVersion", pa.int32()),
            pa.field("minWriterVersion", pa.int32()),
        ]
    )
    n = n_files
    cp = pa.table(
        {
            "add": pa.concat_arrays(
                [struct, pa.nulls(2, struct.type)]
            ),
            "metaData": pa.concat_arrays(
                [pa.nulls(n, meta_t),
                 pa.array([meta, None], meta_t)]
            ),
            "protocol": pa.concat_arrays(
                [pa.nulls(n, proto_t),
                 pa.array(
                     [None,
                      {"minReaderVersion": 1, "minWriterVersion": 2}],
                     proto_t)]
            ),
        }
    )
    pq.write_table(cp, f"{root}/_delta_log/{1:020d}.checkpoint.parquet")
    with open(f"{root}/_delta_log/_last_checkpoint", "w") as f:
        json.dump({"version": 1, "size": n + 2}, f)
    # the version-1 commit the checkpoint claims to cover
    with open(f"{root}/_delta_log/{1:020d}.json", "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1, "operation":
                                           "SYNTH"}}) + "\n")
    # JSON tail: remove 64, re-add 32 of them — the Acero path must run
    tail = [json.dumps({"commitInfo": {"timestamp": 2, "operation":
                                       "SYNTH-TAIL"}})]
    for i in range(64):
        tail.append(json.dumps({"remove": {"path": rows[i]["path"],
                                           "deletionTimestamp": 2,
                                           "dataChange": True}}))
    for i in range(32):
        a = {k: v for k, v in rows[i].items()
             if k not in ("deletionVector", "extra") and v is not None}
        tail.append(json.dumps({"add": a}))
    with open(f"{root}/_delta_log/{2:020d}.json", "w") as f:
        f.write("\n".join(tail) + "\n")


def part_a_snapshot_state(spark):
    import pyarrow as pa

    from simple_data_workflow_spark.sources.delta_state import (
        replay_snapshot,
    )

    base = tempfile.mkdtemp(prefix="sdw-r13a-")
    for n_files in (1_000, 4_000, 16_000, 64_000):
        root = f"{base}/t{n_files}"
        _synth_checkpointed_table(spark, root, n_files)
        gc.collect()
        tracemalloc.start()
        gc.collect()
        base_py = tracemalloc.get_traced_memory()[0]
        t0 = time.time()
        snap = replay_snapshot(spark, root)
        wall = time.time() - t0
        gc.collect()
        retained = tracemalloc.get_traced_memory()[0] - base_py
        arrow_mb = snap.adds.nbytes / 1e6
        n_live = snap.adds.num_rows
        # contrast: what the pre-r13 path retained (full dict map)
        legacy = dict(snap.adds_view().items())
        gc.collect()
        legacy_mb = (tracemalloc.get_traced_memory()[0] - base_py) / 1e6
        tracemalloc.stop()
        del legacy, snap
        gc.collect()
        emit(
            {
                "part": "A",
                "n_checkpoint_adds": n_files,
                "n_live_files": n_live,
                "resolve_wall_s": round(wall, 3),
                "retained_py_mb": round(retained / 1e6, 3),
                "arrow_state_mb": round(arrow_mb, 3),
                "legacy_dict_mb": round(legacy_mb, 3),
            }
        )


def part_b_dv_scheme_root(spark):
    import pyarrow as pa

    import simple_data_workflow_spark.sources.delta_writer as dw
    from simple_data_workflow_spark.sources.delta_reader import delta_read
    from simple_data_workflow_spark.sources.delta_writer import (
        delta_delete,
        delta_write,
    )

    n_rows = 2_600_000
    base = tempfile.mkdtemp(prefix="sdw-r13b-")
    df = spark.range(n_rows).select(
        F.col("id"), (F.col("id") % 97).cast("double").alias("v")
    )
    for frac, label in [(128, "1x"), (16, "8x"), (2, "64x")]:
        n_match = (n_rows + frac - 1) // frac
        root = f"file://{base}/t_{label}_exec"
        delta_write(df.repartition(16), root, mode="error")
        old = dw._DV_EXEC_SIDECAR_MIN
        dw._DV_EXEC_SIDECAR_MIN = 0
        try:
            arrow0 = pa.total_allocated_bytes()
            tracemalloc.start()
            t0 = time.time()
            delta_delete(spark, root, f"id % {frac} = 0", strategy="dv")
            wall = time.time() - t0
            _cur, py_peak = tracemalloc.get_traced_memory()
            tracemalloc.stop()
            arrow_delta = pa.total_allocated_bytes() - arrow0
        finally:
            dw._DV_EXEC_SIDECAR_MIN = old
        kept = delta_read(spark, root).count()
        assert kept == n_rows - n_match, (kept, n_rows, n_match)
        emit(
            {
                "part": "B",
                "rung": label,
                "root_scheme": "file://",
                "path": "executor",
                "matched_rows": n_match,
                "dml_wall_s": round(wall, 3),
                "driver_py_peak_mb": round(py_peak / 1e6, 3),
                "driver_arrow_delta_mb": round(arrow_delta / 1e6, 3),
                "rows_after": kept,
            }
        )




def part_c_dml_decades(spark):
    """VERDICT r12 #9: extend the scale curve for the two DML hot
    paths (delta_dv_write_roundtrip, hudi_mor_read — both orders-only)
    to sf1 / sf3 / sf10, synthesized as key-shifted copies of sf0.1's
    orders. Claim: wall stays sub-linear in rows and driver RSS flat as
    file counts grow."""
    import resource

    import __spark_entry__ as em

    src = "/root/testdata/sf0.1/orders.parquet"
    base = tempfile.mkdtemp(prefix="sdw-r13c-")
    qmap = em.queries()
    lift = None
    for mult, label in [(1, "sf0.1"), (10, "sf1"), (30, "sf3"), (100, "sf10")]:
        d = f"{base}/{label}"
        os.makedirs(d, exist_ok=True)
        df = spark.read.parquet(src)
        if lift is None:
            lift = df.agg({"o_orderkey": "max"}).first()[0] + 1
        copies = [
            df.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * lift))
            for i in range(mult)
        ]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(f"{d}/orders.parquet")
        n = spark.read.parquet(f"{d}/orders.parquet").count()
        for qname in ("delta_dv_write_roundtrip", "hudi_mor_read"):
            rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
            t0 = time.time()
            qmap[qname](spark, d).write.format("noop").mode(
                "overwrite"
            ).save()
            wall = time.time() - t0
            rss1 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
            emit(
                {
                    "part": "C",
                    "rung": label,
                    "query": qname,
                    "rows": n,
                    "wall_s": round(wall, 3),
                    "driver_maxrss_mb": round(rss1 / 1024, 1),
                    "driver_rss_growth_mb": round((rss1 - rss0) / 1024, 1),
                }
            )
        import shutil

        shutil.rmtree(d, ignore_errors=True)




def part_d_manifest_decode(spark):
    """The r12 verdict's named WATCH ITEM (Iceberg manifest-entry dict
    path): manifest decoding moved from JVM GenericRecords iterated
    over py4j (~2 gateway RPCs per field per entry) to the pure-Python
    OCF reader. A/B the same manifest file at 1k/4k/16k entries (the
    legacy path is reproduced inline; 64k python-only — the legacy
    path's projected wall is linear in RPCs)."""
    from simple_data_workflow_spark.sources.iceberg_reader import _avro_records
    from simple_data_workflow_spark.sources.tablefs import hadoop_fs
    from simple_data_workflow_spark.sources.iceberg_writer import (
        _manifest_entry_schema_json,
        _write_avro,
    )

    def legacy_records(path):
        jvm, _ = hadoop_fs(spark, path)
        fs_in = jvm.org.apache.avro.mapred.FsInput(
            jvm.org.apache.hadoop.fs.Path(path),
            spark._jsc.hadoopConfiguration(),
        )
        reader = jvm.org.apache.avro.file.DataFileReader.openReader(
            fs_in, jvm.org.apache.avro.generic.GenericDatumReader()
        )
        try:
            while reader.hasNext():
                rec = reader.next()
                df = rec.get("data_file")
                # the fields _snapshot_files_and_deletes touches
                for name in ("content", "file_format", "file_path",
                             "record_count"):
                    if df.getSchema().getField(name) is not None:
                        _ = df.get(name)
        finally:
            reader.close()

    base = tempfile.mkdtemp(prefix="sdw-r13d-")
    schema = _manifest_entry_schema_json([], 2)
    for n in (1_000, 4_000, 16_000, 64_000):
        rows = [
            {
                "status": 1,
                "snapshot_id": 7,
                "sequence_number": None,
                "file_sequence_number": None,
                "data_file": {
                    "content": 0,
                    "file_path": f"{base}/data/part-{i:08d}.parquet",
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": 10_000,
                    "file_size_in_bytes": 1_000_000,
                    "equality_ids": None,
                },
            }
            for i in range(n)
        ]
        mpath = f"{base}/m{n}.avro"
        _write_avro(spark, mpath, schema, rows,
                    meta={"format-version": "2"})
        t0 = time.time()
        consumed = sum(1 for _ in _avro_records(spark, mpath))
        py_wall = time.time() - t0
        rec = {
            "part": "D",
            "entries": n,
            "python_decode_s": round(py_wall, 3),
            "consumed": consumed,
        }
        if n <= 16_000:
            t0 = time.time()
            legacy_records(mpath)
            rec["legacy_py4j_s"] = round(time.time() - t0, 3)
        emit(rec)


def main():
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    spark = get_spark()
    if which in ("a", "all"):
        part_a_snapshot_state(spark)
    if which in ("b", "all"):
        part_b_dv_scheme_root(spark)
    if which in ("c", "all"):
        part_c_dml_decades(spark)
    if which in ("d", "all"):
        part_d_manifest_decode(spark)


if __name__ == "__main__":
    main()
