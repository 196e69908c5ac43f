"""Jar-free Hudi copy-on-write read interop: hand-written
spec-conformant fixtures (classic ``.hoodie`` timeline, file-group
naming ``<fileId>_<writeToken>_<instant>.parquet``), so these tests pin
the reader against the PUBLIC layout spec, not a Hudi runtime."""

import glob
import json
import os
import shutil

import pytest

from simple_data_workflow_spark.sources.hudi_reader import (
    HudiFeatureUnsupported,
    hudi_read,
    hudi_snapshot_files,
)


def _write_file(spark, df, dest: str) -> None:
    tmp = dest + ".__tmp__"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    shutil.move(part, dest)
    shutil.rmtree(tmp)


def _props(root: str, table_type: str = "COPY_ON_WRITE") -> None:
    os.makedirs(f"{root}/.hoodie", exist_ok=True)
    with open(f"{root}/.hoodie/hoodie.properties", "w") as f:
        f.write("#Hudi table properties\n")
        f.write("hoodie.table.name=fixture\n")
        f.write(f"hoodie.table.type={table_type}\n")
        f.write("hoodie.table.version=6\n")


def _instant(root: str, t: str, action: str = "commit", body: str = "{}"):
    with open(f"{root}/.hoodie/{t}.{action}", "w") as f:
        f.write(body)


def test_hudi_cow_latest_slice_and_pending_exclusion(spark, tmp_path):
    """Per file group the LATEST committed slice wins; files from
    inflight instants (no completed timeline entry) never surface."""
    root = str(tmp_path / "hudi")
    _props(root)
    mk = lambda rows: spark.createDataFrame(rows, "id long, v double")
    # file group A: written at t1, REWRITTEN (upsert) at t2
    _write_file(spark, mk([(1, 1.0), (2, 99.0)]), f"{root}/fgA_0-1-2_001.parquet")
    _write_file(spark, mk([(1, 1.0), (2, 2.0)]), f"{root}/fgA_0-3-4_002.parquet")
    # file group B: one slice at t1
    _write_file(spark, mk([(3, 3.0)]), f"{root}/fgB_0-1-2_001.parquet")
    # file group C: INFLIGHT write at t3 (no completed instant)
    _write_file(spark, mk([(9, 9.9)]), f"{root}/fgC_0-5-6_003.parquet")
    _instant(root, "001")
    _instant(root, "002")
    _instant(root, "003", action="commit.inflight")

    got = {(r["id"], r["v"]) for r in hudi_read(spark, root).collect()}
    assert got == {(1, 1.0), (2, 2.0), (3, 3.0)}
    # time travel: as of t1 the old slice of A is current
    v1 = {(r["id"], r["v"]) for r in hudi_read(spark, root, as_of="001").collect()}
    assert v1 == {(1, 1.0), (2, 99.0), (3, 3.0)}
    # front door falls back here; version = instant string
    from simple_data_workflow_spark.sources import lakehouse

    fd = {
        (r["id"], r["v"])
        for r in lakehouse.read_table(spark, "hudi", root, version="001").collect()
    }
    assert fd == v1


def test_hudi_partitioned_meta_columns_and_refusals(spark, tmp_path):
    """Partition dirs resolve; _hoodie_* meta columns strip unless
    asked for; MoR and empty timelines refuse loudly."""
    root = str(tmp_path / "hudip")
    _props(root)
    df = spark.createDataFrame(
        [("c1", 1, "US"), ("c2", 2, "US")],
        "`_hoodie_record_key` string, id int, region string",
    )
    _write_file(spark, df, f"{root}/region=US/fgA_0-1-2_001.parquet")
    _instant(root, "001")
    out = hudi_read(spark, root)
    assert "_hoodie_record_key" not in out.columns
    assert {(r["id"], r["region"]) for r in out.collect()} == {(1, "US"), (2, "US")}
    assert "_hoodie_record_key" in hudi_read(spark, root, include_meta=True).columns

    # MERGE_ON_READ reads since round 11 (test_hudi_mor_upsert_delete_
    # roundtrip); the RAW file list still refuses for MoR
    root2 = str(tmp_path / "morraw")
    _props(root2, table_type="MERGE_ON_READ")
    from simple_data_workflow_spark.sources.hudi_reader import (
        hudi_snapshot_files,
    )

    with pytest.raises(HudiFeatureUnsupported, match="read-optimized"):
        hudi_snapshot_files(spark, root2)

    root3 = str(tmp_path / "empty")
    _props(root3)
    with pytest.raises(ValueError, match="no completed commits"):
        hudi_read(spark, root3)


def test_hudi_replacecommit_excludes_retired_groups(spark, tmp_path):
    """A completed replacecommit (clustering / insert_overwrite)
    retires the listed file groups: their slices vanish even though
    their commits completed; a group REWRITTEN after the replacement
    stays live."""
    root = str(tmp_path / "hudir")
    _props(root)
    mk = lambda rows: spark.createDataFrame(rows, "id long, v double")
    _write_file(spark, mk([(1, 1.0)]), f"{root}/fgA_0-1-2_001.parquet")
    _write_file(spark, mk([(2, 2.0)]), f"{root}/fgB_0-1-2_001.parquet")
    # clustering at 002 rewrites A+B into fgC and retires them
    _write_file(spark, mk([(1, 1.0), (2, 2.0)]), f"{root}/fgC_0-3-4_002.parquet")
    _instant(root, "001")
    _instant(
        root,
        "002",
        action="replacecommit",
        body=json.dumps(
            {"partitionToReplaceFileIds": {"": ["fgA", "fgB"]}}
        ),
    )
    # fgB gets NEW data at 003 (group reused after replacement)
    _write_file(spark, mk([(5, 5.0)]), f"{root}/fgB_0-9-9_003.parquet")
    _instant(root, "003")

    files = [os.path.basename(p) for p in hudi_snapshot_files(spark, root)]
    assert files == ["fgB_0-9-9_003.parquet", "fgC_0-3-4_002.parquet"]
    got = {(r["id"], r["v"]) for r in hudi_read(spark, root).collect()}
    assert got == {(1, 1.0), (2, 2.0), (5, 5.0)}


def test_hudi_write_roundtrip_and_overwrite(spark, tmp_path):
    """Jar-free Hudi CoW WRITE: spec-layout file names + meta columns +
    timeline; append adds new file groups; overwrite retires prior
    groups via replacecommit while older instants stay
    time-travelable."""
    from simple_data_workflow_spark.sources.hudi_writer import hudi_write

    root = str(tmp_path / "hw")
    d1 = spark.createDataFrame(
        [(1, 1.0, "US"), (2, 2.0, "EU")], "id long, v double, region string"
    )
    t1 = hudi_write(d1, root, mode="error", record_key="id",
                    partition_by=["region"])
    got = hudi_read(spark, root)
    assert {(r["id"], r["v"], r["region"]) for r in got.collect()} == {
        (1, 1.0, "US"), (2, 2.0, "EU"),
    }
    # meta columns are IN the files, spec names on disk
    raw = hudi_read(spark, root, include_meta=True)
    assert "_hoodie_record_key" in raw.columns
    keys = {r["_hoodie_record_key"] for r in raw.collect()}
    assert keys == {"1", "2"}
    us = glob.glob(f"{root}/region=US/*_{t1}.parquet")
    assert us and os.path.exists(f"{root}/region=US/.hoodie_partition_metadata")

    # append = new file group (insert semantics)
    t2 = hudi_write(
        spark.createDataFrame([(3, 3.0, "US")], "id long, v double, region string"),
        root,
        mode="append",
        record_key="id",
    )
    assert hudi_read(spark, root).count() == 3
    assert hudi_read(spark, root, as_of=t1).count() == 2

    # overwrite retires every prior group via replacecommit
    t3 = hudi_write(
        spark.createDataFrame([(9, 9.0, "AS")], "id long, v double, region string"),
        root,
        mode="overwrite",
        record_key="id",
    )
    assert {(r["id"],) for r in hudi_read(spark, root).select("id").collect()} == {(9,)}
    # time travel to the pre-overwrite instant still sees 3 rows
    assert hudi_read(spark, root, as_of=t2).count() == 3
    assert glob.glob(f"{root}/.hoodie/{t3}.replacecommit")

    # create on existing refuses; front door round-trips
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exists"):
        hudi_write(d1, root, mode="error", record_key="id")
    from simple_data_workflow_spark.sources import lakehouse

    root2 = str(tmp_path / "hw2")
    lakehouse.write_table(
        spark.createDataFrame([(5, 5.0)], "id long, v double"), "hudi", root2
    )
    assert {(r["id"], r["v"]) for r in lakehouse.read_table(spark, "hudi", root2).collect()} == {(5, 5.0)}


def test_hudi_upsert_replaces_matched_groups(spark, tmp_path):
    """Delete-insert upsert via ONE replacecommit: matched groups
    retire, their unmatched rows + all source rows land as new groups,
    unmatched groups stay byte-identical, pre-upsert instants
    time-travel."""
    from simple_data_workflow_spark.sources.hudi_writer import (
        hudi_upsert,
        hudi_write,
    )

    root = str(tmp_path / "hup")
    t1 = hudi_write(
        spark.createDataFrame(
            [(1, 1.0, "US"), (2, 2.0, "US")], "id long, v double, region string"
        ),
        root,
        mode="error",
        record_key="id",
        partition_by=["region"],
    )
    hudi_write(
        spark.createDataFrame([(3, 3.0, "EU")], "id long, v double, region string"),
        root,
        mode="append",
        record_key="id",
    )
    eu = {f: os.path.getsize(f) for f in glob.glob(f"{root}/region=EU/*.parquet")}
    t3 = hudi_upsert(
        spark,
        root,
        spark.createDataFrame(
            [(2, 22.0, "US"), (9, 9.0, "AS")], "id long, v double, region string"
        ),
    )
    got = {(r["id"], r["v"], r["region"]) for r in hudi_read(spark, root).collect()}
    assert got == {(1, 1.0, "US"), (2, 22.0, "US"), (3, 3.0, "EU"), (9, 9.0, "AS")}
    # the EU group had no matched keys: untouched bytes
    assert {f: os.path.getsize(f) for f in eu} == eu
    # one atomic replacecommit
    assert glob.glob(f"{root}/.hoodie/{t3}.replacecommit")
    # pre-upsert state still time-travels
    assert hudi_read(spark, root, as_of=t1).count() == 2
    # upsert with zero matches = plain insert commit
    t4 = hudi_upsert(
        spark,
        root,
        spark.createDataFrame([(7, 7.0, "US")], "id long, v double, region string"),
    )
    assert glob.glob(f"{root}/.hoodie/{t4}.commit")
    assert hudi_read(spark, root).count() == 5


def test_lakehouse_metadata_tables(spark, tmp_path):
    """Cross-format metadata tables: Delta history, Iceberg snapshots/
    files, Hudi timeline — all metadata-sized driver builds."""
    from simple_data_workflow_spark.sources.delta_reader import delta_history
    from simple_data_workflow_spark.sources.delta_writer import delta_write
    from simple_data_workflow_spark.sources.hudi_reader import (
        hudi_timeline_table,
    )
    from simple_data_workflow_spark.sources.hudi_writer import hudi_write
    from simple_data_workflow_spark.sources.iceberg_reader import (
        iceberg_files_table,
        iceberg_snapshots_table,
    )
    from simple_data_workflow_spark.sources.iceberg_writer import (
        iceberg_write,
    )

    d = spark.createDataFrame([(1, 1.0)], "id long, v double")

    droot = str(tmp_path / "md_delta")
    delta_write(d, droot, mode="error")
    delta_write(d, droot, mode="append")
    hist = delta_history(spark, droot).collect()
    assert [r["version"] for r in hist] == [0, 1]
    assert all(r["operation"] == "WRITE" for r in hist)

    iroot = str(tmp_path / "md_ice")
    s1 = iceberg_write(d.coalesce(1), iroot, mode="error")
    s2 = iceberg_write(d.coalesce(1), iroot, mode="append")
    snaps = {r["snapshot_id"]: r for r in iceberg_snapshots_table(spark, iroot).collect()}
    assert set(snaps) == {s1, s2} and snaps[s2]["parent_id"] == s1
    files = iceberg_files_table(spark, iroot).collect()
    assert len(files) == 2 and not files[0]["snapshot_has_deletes"]

    hroot = str(tmp_path / "md_hudi")
    hudi_write(d, hroot, mode="error", record_key="id")
    with open(f"{hroot}/.hoodie/99999999999999999.commit.inflight", "w") as f:
        f.write("{}")
    tl = {(r["action"], r["state"]) for r in hudi_timeline_table(spark, hroot).collect()}
    assert ("commit", "completed") in tl and ("commit", "inflight") in tl


# --------------------- round 11: merge-on-read ---------------------


def test_hudi_log_codec_roundtrips():
    """Block framing + flat-Avro record codec round-trip, and corrupt
    framing raises instead of misreading."""
    import pytest as _pytest

    from simple_data_workflow_spark.sources import hudi_log as hlog

    schema = json.dumps(
        {
            "type": "record",
            "name": "r",
            "fields": [
                {"name": "k", "type": ["null", "string"], "default": None},
                {"name": "n", "type": ["null", "long"], "default": None},
                {"name": "x", "type": ["null", "double"], "default": None},
                {"name": "b", "type": ["null", "boolean"], "default": None},
            ],
        }
    )
    rows = [
        {"k": "a", "n": 1, "x": 1.5, "b": True},
        {"k": "b", "n": -1234567890123, "x": -0.25, "b": False},
        {"k": "c", "n": None, "x": None, "b": None},
    ]
    data = hlog.encode_avro_data_block("t1", schema, rows)
    data += hlog.encode_delete_block("t2", ["a", "zz"])
    data += hlog.encode_rollback_block("t3", "t2")
    blocks = hlog.decode_blocks(data)
    assert [b["type"] for b in blocks] == [
        hlog.AVRO_DATA_BLOCK, hlog.DELETE_BLOCK, hlog.COMMAND_BLOCK,
    ]
    assert hlog.decode_avro_data_block(blocks[0]) == rows
    assert hlog.decode_delete_block(blocks[1]) == ["a", "zz"]
    assert blocks[2]["header"][hlog.TARGET_INSTANT_TIME] == "t2"
    assert blocks[0]["header"][hlog.INSTANT_TIME] == "t1"
    with _pytest.raises(hlog.HudiLogCorrupt):
        hlog.decode_blocks(b"JUNK" + data)
    # Kryo-ish garbage in a delete block refuses, never misreads
    bad = hlog.encode_block(hlog.DELETE_BLOCK, {hlog.INSTANT_TIME: "t"},
                            b"\x00\x00\x00\x01\x7f\xff\xff\xff\x01\x02")
    with _pytest.raises(hlog.HudiLogCorrupt, match="Kryo"):
        hlog.decode_delete_block(hlog.decode_blocks(bad)[0])


def test_hudi_mor_upsert_delete_roundtrip(spark, tmp_path):
    """End-to-end MoR: create (deltacommit base), log-file UPSERT
    (updates to logs, inserts to new groups), log-file DELETE, snapshot
    merge, read-optimized view, and as_of time travel."""
    from simple_data_workflow_spark.sources.hudi_reader import hudi_read
    from simple_data_workflow_spark.sources.hudi_writer import (
        hudi_delta_delete,
        hudi_delta_upsert,
        hudi_write,
    )

    root = str(tmp_path / "mor")
    df = spark.createDataFrame(
        [(1, 10.0, "US"), (2, 20.0, "US"), (3, 30.0, "EU")],
        "id long, v double, region string",
    )
    t0 = hudi_write(
        df, root, mode="error", record_key="id",
        partition_by=["region"], table_type="MERGE_ON_READ",
    )
    assert os.path.exists(f"{root}/.hoodie/{t0}.deltacommit")
    got = {(r["id"], r["v"]) for r in hudi_read(spark, root).collect()}
    assert got == {(1, 10.0), (2, 20.0), (3, 30.0)}

    # upsert: id=2 updates (log), id=9 inserts (new group)
    src = spark.createDataFrame(
        [(2, 222.0, "US"), (9, 90.0, "AS")], "id long, v double, region string"
    )
    hudi_delta_upsert(spark, root, src)
    got = {(r["id"], r["v"]) for r in hudi_read(spark, root).collect()}
    assert got == {(1, 10.0), (2, 222.0), (3, 30.0), (9, 90.0)}
    # a log file exists and base files were NOT rewritten for the update
    logs = [
        n for _d, _s, files in os.walk(root) for n in files if ".log." in n
    ]
    assert logs
    # read-optimized view: base only — the update is invisible, the
    # insert (a base file) shows
    ro = {
        (r["id"], r["v"])
        for r in hudi_read(spark, root, query_type="read_optimized").collect()
    }
    assert ro == {(1, 10.0), (2, 20.0), (3, 30.0), (9, 90.0)}

    # second upsert stacks on the same log file group (version 2)
    hudi_delta_upsert(
        spark,
        root,
        spark.createDataFrame([(2, 2222.0, "US")], "id long, v double, region string"),
    )
    got = {(r["id"], r["v"]) for r in hudi_read(spark, root).collect()}
    assert (2, 2222.0) in got and len(got) == 4

    # delete via a log DELETE block
    t_del = hudi_delta_delete(spark, root, "v >= 90.0")
    got = {(r["id"], r["v"]) for r in hudi_read(spark, root).collect()}
    assert got == {(1, 10.0), (3, 30.0)}
    # no-match delete: returns latest instant, nothing changes
    assert hudi_delta_delete(spark, root, "v > 1e9") >= t_del
    # as_of before the delete still sees the upserted rows
    pre = {(r["id"], r["v"]) for r in hudi_read(spark, root, as_of=t_del)
           .collect()}
    assert pre == {(1, 10.0), (3, 30.0)}
    pre2 = {
        (r["id"], r["v"])
        for r in hudi_read(spark, root, as_of=str(int(t_del) - 1)).collect()
    }
    assert pre2 == {(1, 10.0), (2, 2222.0), (3, 30.0), (9, 90.0)}


def test_hudi_mor_uncommitted_log_blocks_invisible(spark, tmp_path):
    """Log blocks whose instant has no completed deltacommit must not
    surface (crash-consistency: the block lands before the commit)."""
    from simple_data_workflow_spark.sources import hudi_log as hlog
    from simple_data_workflow_spark.sources.hudi_reader import hudi_read
    from simple_data_workflow_spark.sources.hudi_writer import hudi_write

    root = str(tmp_path / "morunc")
    hudi_write(
        spark.createDataFrame([(1, 10.0)], "id long, v double"),
        root, mode="error", record_key="id", table_type="MERGE_ON_READ",
    )
    # hand-plant a log file whose block instant never committed
    import glob as _glob

    base = _glob.glob(f"{root}/*.parquet")[0]
    name = os.path.basename(base)
    fid, _tok, rest = name.split("_", 2)
    binstant = rest.split(".")[0]
    schema = json.dumps(
        {"type": "record", "name": "r", "fields": [
            {"name": "_hoodie_record_key", "type": ["null", "string"], "default": None},
            {"name": "id", "type": ["null", "long"], "default": None},
            {"name": "v", "type": ["null", "double"], "default": None},
        ]}
    )
    blk = hlog.encode_avro_data_block(
        "99999999999999999", schema,
        [{"_hoodie_record_key": "1", "id": 1, "v": 666.0}],
    )
    with open(f"{root}/.{fid}_{binstant}.log.1_0-1-0", "wb") as f:
        f.write(blk)
    got = {(r["id"], r["v"]) for r in hudi_read(spark, root).collect()}
    assert got == {(1, 10.0)}  # uncommitted block invisible


def test_hudi_compact_rewrites_logged_groups(spark, tmp_path):
    """Compaction: groups with logs rewrite their MERGED rows as a new
    base slice under a completed commit; the snapshot is identical
    before/after, pre-compaction instants still time-travel with the
    OLD slice + logs, and subsequent log writes attach to the NEW
    base."""
    from simple_data_workflow_spark.sources.hudi_reader import (
        _resolve_groups,
        hudi_read,
    )
    from simple_data_workflow_spark.sources.hudi_writer import (
        hudi_compact,
        hudi_delta_delete,
        hudi_delta_upsert,
        hudi_write,
    )

    root = str(tmp_path / "morc")
    hudi_write(
        spark.createDataFrame(
            [(1, 10.0, "US"), (2, 20.0, "US"), (3, 30.0, "EU")],
            "id long, v double, region string",
        ),
        root, mode="error", record_key="id",
        partition_by=["region"], table_type="MERGE_ON_READ",
    )
    hudi_delta_upsert(
        spark, root,
        spark.createDataFrame([(2, 222.0, "US")], "id long, v double, region string"),
    )
    hudi_delta_delete(spark, root, "id = 3")
    before = {(r["id"], r["v"]) for r in hudi_read(spark, root).collect()}
    assert before == {(1, 10.0), (2, 222.0)}

    t = hudi_compact(spark, root)
    assert t is not None and os.path.exists(f"{root}/.hoodie/{t}.commit")
    after = {(r["id"], r["v"]) for r in hudi_read(spark, root).collect()}
    assert after == before
    # logged groups got fresh base slices; no logs attach to them now
    _g, logs, _c, _r = _resolve_groups(spark, root)
    assert not logs
    # the read-optimized view now equals the snapshot (logs compacted)
    ro = {
        (r["id"], r["v"])
        for r in hudi_read(spark, root, query_type="read_optimized").collect()
    }
    assert ro == before
    # pre-compaction instant still time-travels (old slice + its logs)
    pre = {
        (r["id"], r["v"])
        for r in hudi_read(spark, root, as_of=str(int(t) - 1)).collect()
    }
    assert pre == before
    # nothing to compact now: no-op
    assert hudi_compact(spark, root) is None
    # new log writes attach to the new base slice
    hudi_delta_upsert(
        spark, root,
        spark.createDataFrame([(1, 111.0, "US")], "id long, v double, region string"),
    )
    got = {(r["id"], r["v"]) for r in hudi_read(spark, root).collect()}
    assert got == {(1, 111.0), (2, 222.0)}


def test_hudi_clean_reaps_superseded_slices(spark, tmp_path):
    """The cleaner deletes base slices older than the retention
    horizon's resolvable slice (plus their logs); current slices and
    never-rewritten groups survive at any age; retained instants still
    time-travel."""
    from simple_data_workflow_spark.sources.hudi_writer import (
        hudi_clean,
        hudi_compact,
        hudi_delta_upsert,
        hudi_write,
    )

    root = str(tmp_path / "hclean")
    hudi_write(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double"),
        root, mode="error", record_key="id", table_type="MERGE_ON_READ",
    )
    # rewrite group(s) twice via upsert+compact cycles → 3 slices
    for v in (100.0, 200.0):
        hudi_delta_upsert(
            spark, root,
            spark.createDataFrame([(1, v)], "id long, v double"),
        )
        hudi_compact(spark, root)
    n_before = sum(
        1 for _d, _s, fs_ in os.walk(root) for n in fs_ if n.endswith(".parquet")
    )
    # generous retention: nothing to clean
    assert hudi_clean(spark, root, retain_commits=10) == []
    # tight retention: superseded slices reap
    deleted = hudi_clean(spark, root, retain_commits=1)
    assert deleted
    n_after = sum(
        1 for _d, _s, fs_ in os.walk(root) for n in fs_ if n.endswith(".parquet")
    )
    assert n_after < n_before
    got = {(r["id"], r["v"]) for r in hudi_read(spark, root).collect()}
    assert got == {(1, 200.0), (2, 20.0)}
    # idempotent
    assert hudi_clean(spark, root, retain_commits=1) == []


def test_hudi_read_filters_prune_partition_groups(spark, tmp_path):
    """Partition-path pruning: file groups whose Hive path values prove
    a filter miss never schedule (CoW base files AND MoR log files);
    the row filter keeps results equal to a filtered scan."""
    from pyspark.sql import functions as F

    from simple_data_workflow_spark.sources.hudi_reader import hudi_read
    from simple_data_workflow_spark.sources.hudi_writer import (
        hudi_delta_upsert,
        hudi_write,
    )

    root = str(tmp_path / "hskip")
    df = spark.createDataFrame(
        [(i, "A" if i % 2 else "B", float(i)) for i in range(1, 21)],
        "id int, grp string, val double",
    )
    hudi_write(df, root, mode="error", record_key="id", partition_by=["grp"])
    full = hudi_read(spark, root)
    flt = hudi_read(spark, root, filters=[("grp", "==", "A"), ("id", "<=", 9)])
    assert {(r["id"], r["grp"]) for r in flt.collect()} == {
        (i, "A") for i in range(1, 10, 2)
    }
    assert len(flt.inputFiles()) < len(full.inputFiles())
    # MoR: pruned groups' LOG files never schedule either
    root2 = str(tmp_path / "hskipm")
    hudi_write(
        df,
        root2,
        mode="error",
        record_key="id",
        partition_by=["grp"],
        table_type="MERGE_ON_READ",
    )
    src = spark.createDataFrame(
        [(1, "A", 100.0), (2, "B", 200.0)], "id int, grp string, val double"
    )
    hudi_delta_upsert(spark, root2, src)
    got = {
        (r["id"], r["val"])
        for r in hudi_read(
            spark, root2, filters=[("grp", "==", "A")]
        ).collect()
    }
    assert got == {(1, 100.0)} | {(i, float(i)) for i in range(3, 21, 2)}


def test_hudi_read_filters_prune_all_returns_empty(spark, tmp_path):
    """Round 12 (ADVICE r11): a filter that prunes EVERY file group
    returns an empty DataFrame with the table schema — consistent with
    delta_read/iceberg_read — for CoW, MoR snapshot, and the front
    door; a genuinely empty/absent table still raises."""
    import pytest as _pytest

    from simple_data_workflow_spark.sources.hudi_writer import hudi_write

    root = str(tmp_path / "hprune")
    hudi_write(
        spark.createDataFrame(
            [(1, 1.0, "US"), (2, 2.0, "EU")],
            "id long, v double, region string",
        ),
        root,
        mode="error",
        record_key="id",
        partition_by=["region"],
    )
    got = hudi_read(spark, root, filters=[("region", "==", "AS")])
    assert got.count() == 0
    assert set(got.columns) == {"id", "v", "region"}

    # MERGE_ON_READ snapshot path
    root2 = str(tmp_path / "hprune_mor")
    hudi_write(
        spark.createDataFrame(
            [(1, 1.0, "US")], "id long, v double, region string"
        ),
        root2,
        mode="error",
        record_key="id",
        partition_by=["region"],
        table_type="MERGE_ON_READ",
    )
    got2 = hudi_read(spark, root2, filters=[("region", "==", "AS")])
    assert got2.count() == 0
    assert set(got2.columns) == {"id", "v", "region"}

    # genuinely empty table (no committed groups at all) still raises
    root3 = str(tmp_path / "hprune_empty")
    _props(root3)
    with _pytest.raises(ValueError, match="no completed commits"):
        hudi_read(spark, root3, filters=[("region", "==", "AS")])


def test_kryo_delete_payload_codec():
    """Round 12 (VERDICT r11 #5): the Kryo HoodieKey[] delete-payload
    codec — fixed class preamble, per-key tag + (partitionPath,
    recordKey) strings; ASCII strings terminate via bit 8 on the last
    byte, short/non-ASCII strings carry a UTF8-length header; null and
    empty encode distinctly; custom classes refuse."""
    import pytest as _pytest

    from simple_data_workflow_spark.sources import hudi_log as hlog

    keys = [
        ("region=US", "key-001"),
        ("", "k"),              # empty partition, 1-char key (UTF8 path)
        ("region=ü", "clé-42"),  # non-ASCII both sides
    ]
    payload = hlog.encode_kryo_delete_payload(keys)
    assert hlog.decode_kryo_delete_payload(payload) == [
        "key-001", "k", "clé-42",
    ]
    # golden preamble: NAME tag, nameId 0, the array class name with
    # bit 8 set on its final ASCII char
    cls = b"[Lorg.apache.hudi.common.model.HoodieKey;"
    assert payload[:2] == b"\x01\x00"
    assert payload[2 : 2 + len(cls)] == cls[:-1] + bytes(
        [cls[-1] | 0x80]
    )
    # dispatch: decode_delete_block routes Kryo payloads
    blk = hlog.encode_block(
        hlog.DELETE_BLOCK, {hlog.INSTANT_TIME: "1"}, payload
    )
    [b] = hlog.decode_blocks(blk)
    assert hlog.decode_delete_block(b) == ["key-001", "k", "clé-42"]
    # a custom element class still refuses loudly (final chars carry
    # the ASCII terminator bit, so match on the shared stem: first hit
    # is the array class, second the element class)
    bad = bytearray(payload)
    first = payload.index(b"common.model.HoodieKe")
    second = payload.index(b"common.model.HoodieKe", first + 1)
    bad[second] = ord("X")
    with _pytest.raises(hlog.HudiLogCorrupt, match="Hudi runtime"):
        hlog.decode_kryo_delete_payload(bytes(bad))


def test_hudi_1x_timeline_and_kryo_delete(spark, tmp_path):
    """Round 12 (VERDICT r11 #5): a Hudi 1.x-layout table reads —
    completed instants live in .hoodie/timeline/ with
    <requested>_<completion>.<action> names, and a runtime-writer
    (Kryo HoodieKey[]) DELETE block in the MoR log drops its keys.
    Time travel and the timeline view work over the moved instants."""
    import os as _os
    import shutil as _shutil

    from simple_data_workflow_spark.sources import hudi_log as hlog
    from simple_data_workflow_spark.sources.hudi_reader import (
        _resolve_groups,
        hudi_timeline_table,
    )
    from simple_data_workflow_spark.sources.hudi_writer import (
        hudi_delta_upsert,
        hudi_write,
    )

    root = str(tmp_path / "h1x")
    t0 = hudi_write(
        spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "id long, v double"
        ),
        root,
        mode="error",
        record_key="id",
        table_type="MERGE_ON_READ",
    )
    t1 = hudi_delta_upsert(
        spark, root, spark.createDataFrame([(1, 100.0)], "id long, v double")
    )

    # hand-append a KRYO-serialized DELETE block for record key "2"
    groups, logs, _c, _r = _resolve_groups(spark, root)
    inst2 = str(int(t1) + 1)
    for (part, fid), (binst, base) in groups.items():
        vers = [v for v, _p in logs.get((part, fid), [])]
        nxt = (max(vers) + 1) if vers else 1
        blk = hlog.encode_block(
            hlog.DELETE_BLOCK,
            {hlog.INSTANT_TIME: inst2},
            hlog.encode_kryo_delete_payload([(part, "2")]),
        )
        logname = f".{fid}_{binst}.log.{nxt}_0-1-1"
        with open(f"{_os.path.dirname(base)}/{logname}", "wb") as f:
            f.write(blk)

    # publish inst2 AND move the whole timeline to the 1.x layout
    hd = f"{root}/.hoodie"
    _os.makedirs(f"{hd}/timeline", exist_ok=True)
    with open(f"{hd}/timeline/{inst2}_{int(inst2) + 1}.deltacommit", "w") as f:
        f.write("{}")
    for n in sorted(_os.listdir(hd)):
        m = __import__("re").match(r"^(\d+)\.(commit|deltacommit)$", n)
        if m:
            _shutil.move(
                f"{hd}/{n}",
                f"{hd}/timeline/{m.group(1)}_{int(m.group(1)) + 1}"
                f".{m.group(2)}",
            )
    crc = f"{hd}/.hoodie.properties.crc"
    if _os.path.exists(crc):
        _os.remove(crc)  # hand-edit invalidates Hadoop's checksum sidecar
    with open(f"{hd}/hoodie.properties", "a") as f:
        f.write("hoodie.table.version=8\n")

    got = {(r["id"], r["v"]) for r in hudi_read(spark, root).collect()}
    assert got == {(0, 0.0), (1, 100.0), (3, 3.0), (4, 4.0), (5, 5.0)}
    # time travel over the 1.x layout: pre-delete, pre-upsert
    assert {
        (r["id"], r["v"]) for r in hudi_read(spark, root, as_of=t0).collect()
    } == {(i, float(i)) for i in range(6)}
    tl = {
        (r["instant"], r["action"], r["state"])
        for r in hudi_timeline_table(spark, root).collect()
    }
    assert (t0, "deltacommit", "completed") in tl
    assert (inst2, "deltacommit", "completed") in tl


def test_hudi_incremental_cow(spark, tmp_path):
    """Round 12 continuation: jar-free incremental query on
    COPY_ON_WRITE — (start, end] record versions, upserted rows carry
    the upsert instant, deletes (overwritten-away rows) never emit,
    and the begin bound is exclusive."""
    from simple_data_workflow_spark.sources import lakehouse
    from simple_data_workflow_spark.sources.hudi_reader import (
        hudi_table_changes,
    )
    from simple_data_workflow_spark.sources.hudi_writer import (
        hudi_upsert,
        hudi_write,
    )

    root = str(tmp_path / "inc_cow")
    # ONE file group: the upserts below rewrite it, so the unchanged
    # remainder rows (ids 1, 3) prove commit-time preservation — a
    # rewrite that re-stamped them would wrongly re-emit them
    t1 = hudi_write(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, v double"
        ).coalesce(1),
        root,
        mode="error",
        record_key="id",
    )
    t2 = hudi_upsert(
        spark,
        root,
        spark.createDataFrame([(2, 222.0), (4, 40.0)], "id long, v double"),
    )
    t3 = hudi_upsert(
        spark,
        root,
        spark.createDataFrame([(4, 444.0)], "id long, v double"),
    )

    def rows(df):
        return {(r["id"], r["v"], r["_hoodie_commit_time"]) for r in df.collect()}

    # full range: every record's latest version, stamped with its
    # last-change instant
    assert rows(hudi_table_changes(spark, root)) == {
        (1, 10.0, t1), (2, 222.0, t2), (3, 30.0, t1), (4, 444.0, t3),
    }
    # (t1, t3]: only records changed after t1
    assert rows(hudi_table_changes(spark, root, t1)) == {
        (2, 222.0, t2), (4, 444.0, t3),
    }
    # (t1, t2]: as-of t2 — id=4's version at t2 (40.0), not t3's
    assert rows(hudi_table_changes(spark, root, t1, t2)) == {
        (2, 222.0, t2), (4, 40.0, t2),
    }
    # (t2, t3]
    assert rows(hudi_table_changes(spark, root, t2, t3)) == {(4, 444.0, t3)}
    # front door: instant-string versions pass through
    assert rows(lakehouse.table_changes(spark, "hudi", root, t2, t3)) == {
        (4, 444.0, t3)
    }
    # empty/inverted range = the steady-state polling case since
    # round 13 (ADVICE r12): an EMPTY frame, not an error
    assert hudi_table_changes(spark, root, t3, t2).count() == 0
    assert hudi_table_changes(spark, root, t3, t3).count() == 0


def test_hudi_incremental_mor_and_compaction_preserves_commit_times(
    spark, tmp_path
):
    """MoR incremental: log-record upserts emit at their deltacommit
    instant, deleted records never emit, and COMPACTION preserves each
    record's last-change _hoodie_commit_time (the incremental result is
    IDENTICAL before and after compacting)."""
    from simple_data_workflow_spark.sources.hudi_reader import (
        hudi_read,
        hudi_table_changes,
    )
    from simple_data_workflow_spark.sources.hudi_writer import (
        hudi_compact,
        hudi_delta_delete,
        hudi_delta_upsert,
        hudi_write,
    )

    root = str(tmp_path / "inc_mor")
    t1 = hudi_write(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, v double"
        ),
        root,
        mode="error",
        record_key="id",
        table_type="MERGE_ON_READ",
    )
    # separate calls: hudi_delta_upsert publishes updates and inserts
    # under DIFFERENT deltacommit instants and returns the last one
    t2 = hudi_delta_upsert(
        spark,
        root,
        spark.createDataFrame([(2, 222.0)], "id long, v double"),
    )
    t2b = hudi_delta_upsert(
        spark,
        root,
        spark.createDataFrame([(9, 90.0)], "id long, v double"),
    )
    t3 = hudi_delta_delete(spark, root, "id = 3")

    def rows(df):
        return {(r["id"], r["v"], r["_hoodie_commit_time"]) for r in df.collect()}

    want_all = {(1, 10.0, t1), (2, 222.0, t2), (9, 90.0, t2b)}
    assert rows(hudi_table_changes(spark, root)) == want_all
    # (t1, ·]: the upserted/inserted records; the t3-deleted id=3 never
    # emits (non-CDC incremental contract)
    want_inc = {(2, 222.0, t2), (9, 90.0, t2b)}
    assert rows(hudi_table_changes(spark, root, t1)) == want_inc
    # as-of t2b (before the delete) id=3 is LIVE but unchanged-in-range
    assert rows(hudi_table_changes(spark, root, t1, t2b)) == want_inc

    # compaction rewrites logged groups into new base slices …
    t4 = hudi_compact(spark, root)
    assert t4 is not None
    # … but record commit times carry over: the incremental views are
    # unchanged, nothing re-emits at the compaction instant
    assert rows(hudi_table_changes(spark, root)) == want_all
    assert rows(hudi_table_changes(spark, root, t1)) == want_inc
    assert rows(hudi_table_changes(spark, root, t3)) == set()
    # and the merged snapshot itself is intact
    assert {(r["id"], r["v"]) for r in hudi_read(spark, root).collect()} == {
        (1, 10.0), (2, 222.0), (9, 90.0)
    }


def test_path_encoding_partition_values_hudi(spark, tmp_path):
    """Partition values with URI-special chars: CoW upsert must hit the
    encoded file groups, and MoR log upserts/deletes must attach to
    them through the scan/metadata path normalization."""
    from simple_data_workflow_spark.sources.hudi_reader import hudi_read
    from simple_data_workflow_spark.sources.hudi_writer import (
        hudi_delta_delete,
        hudi_delta_upsert,
        hudi_upsert,
        hudi_write,
    )

    # CoW: upsert into a space-valued partition
    root = str(tmp_path / "enc_cow")
    df = spark.createDataFrame(
        [(1, 10.0, "NOT SPECIFIED"), (2, 20.0, "NOT SPECIFIED"), (3, 30.0, "x y")],
        "id long, v double, part string",
    ).coalesce(1)
    hudi_write(df, root, mode="error", record_key="id", partition_by=["part"])
    hudi_upsert(
        spark,
        root,
        spark.createDataFrame(
            [(2, 222.0, "NOT SPECIFIED")], "id long, v double, part string"
        ),
    )
    got = {(r["id"], r["v"]) for r in hudi_read(spark, root).collect()}
    assert got == {(1, 10.0), (2, 222.0), (3, 30.0)}

    # MoR: log upsert + delete inside the encoded partition
    root2 = str(tmp_path / "enc_mor")
    hudi_write(
        df, root2, mode="error", record_key="id",
        partition_by=["part"], table_type="MERGE_ON_READ",
    )
    hudi_delta_upsert(
        spark,
        root2,
        spark.createDataFrame(
            [(1, 111.0, "NOT SPECIFIED")], "id long, v double, part string"
        ),
    )
    hudi_delta_delete(spark, root2, "id = 3")
    got = {(r["id"], r["v"]) for r in hudi_read(spark, root2).collect()}
    assert got == {(1, 111.0), (2, 20.0)}


def test_hudi_cluster_sort_layout(spark, tmp_path):
    """Round 12 continuation: sort-based CLUSTERING — one
    replacecommit rewrites the live groups range-partitioned + sorted
    by the cluster key; rows/values identical, per-file value ranges
    non-overlapping, pre-cluster time travel intact, record commit
    times preserved (the incremental query never re-emits clustered
    rows), and MoR tables with pending logs refuse."""
    import glob as _glob

    import pytest as _pytest

    from simple_data_workflow_spark.sources.hudi_reader import (
        hudi_read,
        hudi_table_changes,
    )
    from simple_data_workflow_spark.sources.hudi_writer import (
        hudi_cluster,
        hudi_delta_upsert,
        hudi_write,
    )

    root = str(tmp_path / "clu")
    # scatter: interleaved values across 4 initial groups
    df = spark.createDataFrame(
        [(i, float(i % 17)) for i in range(200)], "id long, v double"
    )
    t1 = hudi_write(df.repartition(4), root, mode="error", record_key="id")
    before = {(r["id"], r["v"]) for r in hudi_read(spark, root).collect()}

    t2 = hudi_cluster(spark, root, sort_by=["v"], n_file_groups=4)
    assert t2 is not None and _glob.glob(f"{root}/.hoodie/{t2}.replacecommit")
    after = {(r["id"], r["v"]) for r in hudi_read(spark, root).collect()}
    assert after == before
    # pre-cluster snapshot still resolves
    assert {
        (r["id"], r["v"]) for r in hudi_read(spark, root, as_of=t1).collect()
    } == before
    # incremental (t1, t2]: clustering produced NO record versions
    assert hudi_table_changes(spark, root, t1, t2).count() == 0

    # per-file v ranges are disjoint (range repartition + sort)
    import pyarrow.parquet as _pq

    spans = []
    for f in sorted(
        p for p in _glob.glob(f"{root}/*.parquet")
        if f"_{t2}.parquet" in p
    ):
        md = _pq.ParquetFile(f).metadata
        vi = next(
            i for i in range(md.schema.to_arrow_schema().__len__())
            if md.schema.to_arrow_schema().field(i).name == "v"
        )
        st = md.row_group(0).column(vi).statistics
        lo, hi = st.min, st.max
        for g in range(1, md.num_row_groups):
            s = md.row_group(g).column(vi).statistics
            lo, hi = min(lo, s.min), max(hi, s.max)
        spans.append((lo, hi))
    spans.sort()
    assert len(spans) >= 2
    for (l1, h1), (l2, h2) in zip(spans, spans[1:]):
        assert h1 <= l2, f"overlapping clustered files: {spans}"

    # MoR with pending logs refuses
    root2 = str(tmp_path / "clu_mor")
    hudi_write(
        spark.createDataFrame([(1, 1.0)], "id long, v double"),
        root2, mode="error", record_key="id", table_type="MERGE_ON_READ",
    )
    hudi_delta_upsert(
        spark, root2,
        spark.createDataFrame([(1, 11.0)], "id long, v double"),
    )
    with _pytest.raises(ValueError, match="hudi_compact first"):
        hudi_cluster(spark, root2, sort_by=["v"])


def test_kryo_delete_record_payload_roundtrip():
    """Round 13 (VERDICT r12 #10): the 1.x STOCK-payload delete shape —
    a Kryo ``DeleteRecord[]`` (nested HoodieKey + orderingValue) —
    decodes to its record keys; both stock payload classes are
    latest-wins, so the key set IS the delete. Custom ordering types
    still refuse."""
    import pytest as _pytest

    from simple_data_workflow_spark.sources.hudi_log import (
        HudiLogCorrupt,
        _kryo_write_string,
        _kryo_write_varint,
        decode_kryo_delete_payload,
        encode_kryo_delete_records,
    )

    keys = [("p1", "k-001"), ("p2", "k-002"), ("", "k-003")]
    data = encode_kryo_delete_records(keys, ordering=["5", None, "7"])
    assert decode_kryo_delete_payload(data) == ["k-001", "k-002", "k-003"]
    # null orderings throughout
    data2 = encode_kryo_delete_records(keys)
    assert decode_kryo_delete_payload(data2) == ["k-001", "k-002", "k-003"]
    # a non-null, non-String orderingValue class tag refuses
    bad = bytearray(encode_kryo_delete_records([("p", "k")]))
    assert bad[-1] == 0  # trailing null orderingValue
    bad = bytes(bad[:-1]) + _kryo_write_varint(4) + b"\x01"
    with _pytest.raises(HudiLogCorrupt, match="orderingValue"):
        decode_kryo_delete_payload(bad)
    # an unknown array class still refuses
    out = bytearray()
    out += _kryo_write_varint(1) + _kryo_write_varint(0)
    out += _kryo_write_string("[Lcom.example.CustomPayload;")
    out += _kryo_write_varint(1)
    with _pytest.raises(HudiLogCorrupt, match="custom payload"):
        decode_kryo_delete_payload(bytes(out))


def test_hudi_incremental_empty_range(spark, tmp_path):
    """ADVICE r12 (low): start >= end is the steady-state 'no new
    commits' polling case — hudi_table_changes returns an EMPTY frame
    with the right schema instead of raising; a start past the newest
    instant still raises (caller bug, not polling)."""
    import pytest as _pytest

    from simple_data_workflow_spark.sources.hudi_reader import (
        hudi_table_changes,
    )
    from simple_data_workflow_spark.sources.hudi_writer import hudi_write

    root = str(tmp_path / "hincempty")
    hudi_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"),
        root,
        mode="error",
        record_key="id",
    )
    full = hudi_table_changes(spark, root)
    assert full.count() == 2
    latest = max(
        r["_hoodie_commit_time"] for r in full.collect()
    )
    empty = hudi_table_changes(spark, root, start_instant=latest)
    assert empty.count() == 0
    assert set(empty.columns) == set(full.columns)
    with _pytest.raises(ValueError, match="past the newest"):
        hudi_table_changes(spark, root, start_instant=str(int(latest) + 10))


def test_non_local_root_keeps_scheme_and_authority(spark, monkeypatch):
    """An ``s3a://`` table resolves its base and log files under the
    qualified root, not under the bare URI path on the default
    filesystem; the executor-side log writers refuse such a root."""
    from simple_data_workflow_spark.sources import hudi_reader, hudi_writer, tablefs

    class QualifyingFs:
        def makeQualified(self, p):
            return p

    root = "s3a://bucket/warehouse/t"
    t = "20240101000000"
    monkeypatch.setattr(tablefs, "hadoop_fs", lambda s, p: (spark._jvm, QualifyingFs()))
    monkeypatch.setattr(hudi_reader, "_timeline", lambda s, p: ({t}, set()))
    monkeypatch.setattr(
        tablefs,
        "staged_files",
        lambda s, p, skip=None: [
            (f"p=1/fid-1_0-1-0_{t}.parquet", 10, 0),
            (f"p=1/.fid-1_{t}.log.1_0-1-0", 5, 0),
        ],
    )
    assert tablefs.qualified_root(spark, root) == root
    groups, logs, _c, _r = hudi_reader._resolve_groups(spark, root)
    assert groups == {("p=1", "fid-1"): (t, f"{root}/p=1/fid-1_0-1-0_{t}.parquet")}
    assert logs == {("p=1", "fid-1"): [(1, f"{root}/p=1/.fid-1_{t}.log.1_0-1-0")]}
    with pytest.raises(NotImplementedError):
        hudi_writer._executor_root(root)
