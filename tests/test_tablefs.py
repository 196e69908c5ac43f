"""The table filesystem layer (``sources.tablefs``) on both branches.

The ``hadoop`` route forces the non-local branch (the Hadoop
FileSystem through py4j) onto a local directory, so the code that
object-store and HDFS tables run is exercised here too. Every format's
round trip must return the same rows on both routes."""

import os
import shutil
import time

import pytest

from simple_data_workflow_spark.sources import tablefs


@pytest.fixture(params=["local", "hadoop"])
def route(request, monkeypatch):
    if request.param == "hadoop":
        monkeypatch.setattr(tablefs, "local_root", lambda p: None)
    return request.param


def _df(spark, lo=0, hi=40):
    return (
        spark.range(lo, hi)
        .selectExpr("id", "CAST(id % 3 AS INT) AS g", "id * 2 AS v")
        .repartition(3)
    )


def _rows(df):
    return sorted(tuple(r) for r in df.select("id", "g", "v").collect())


def _want(ids):
    return [(i, i % 3, 2 * i) for i in ids]


def _forbid_hadoop(monkeypatch):
    """Make any py4j FileSystem call fail the test."""

    def no_hadoop(*a, **k):
        raise AssertionError("py4j FileSystem call on a local table")

    monkeypatch.setattr(tablefs, "hadoop_fs", no_hadoop)


def _backdate(paths, mtime=None):
    old = time.time() - 3600 if mtime is None else mtime
    for p in paths:
        os.utime(p, (old, old))


def test_path_without_scheme_resolves_on_default_fs(spark, tmp_path, monkeypatch):
    """A path without a scheme lives where Spark's own reads and writes
    put it: on ``fs.defaultFS``. When that is not ``file:``, such a path
    goes to Hadoop, never to the driver's disk, where a table would
    always look absent; a ``file:`` path stays local."""
    from simple_data_workflow_spark.streaming.sinks import _list_versions

    seen = []

    class _Fs:
        def exists(self, p):
            seen.append(("exists", str(p)))
            return True

        def listStatus(self, p):
            seen.append(("listStatus", str(p)))
            return []

    monkeypatch.setattr(tablefs, "hadoop_fs", lambda s, p: (spark._jvm, _Fs()))
    conf = spark._jsc.hadoopConfiguration()
    old = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "hdfs://namenode:8020")
    # the setting is read once per context: drop what an earlier test read
    sc = spark.sparkContext
    monkeypatch.setattr(sc, "_tablefs_default_is_file", None, raising=False)
    try:
        assert tablefs.exists(spark, "/warehouse/t")
        assert tablefs.list_dir(spark, "/warehouse/t") == {}
        assert _list_versions(spark, "/warehouse/state") == []
        assert tablefs.list_dir(spark, f"file:{tmp_path}") == {}
    finally:
        if old is None:
            conf.unset("fs.defaultFS")
        else:
            conf.set("fs.defaultFS", old)
    assert seen == [
        ("exists", "/warehouse/t"),
        ("exists", "/warehouse/t"),
        ("listStatus", "/warehouse/t"),
        ("exists", "/warehouse/state"),
        ("listStatus", "/warehouse/state"),
    ]


def test_move_from_missing_source_raises(spark, tmp_path, route):
    """A staged file that is not there must fail the commit, never be
    recorded as moved."""
    from py4j.protocol import Py4JJavaError

    with pytest.raises((OSError, Py4JJavaError)):
        tablefs.move(
            spark, str(tmp_path / "gone.parquet"), str(tmp_path / "d" / "x.parquet")
        )
    assert not (tmp_path / "d" / "x.parquet").exists()


def test_staged_files_walks_tree_and_skips(spark, tmp_path, route):
    (tmp_path / "a=1").mkdir()
    (tmp_path / "a=1" / "p.parquet").write_bytes(b"12345")
    (tmp_path / "q.parquet").write_bytes(b"1")
    (tmp_path / "_log").mkdir()
    (tmp_path / "_log" / "0.json").write_bytes(b"{}")
    got = tablefs.staged_files(spark, str(tmp_path), skip=lambda d: d == "_log")
    assert [(rel, size) for rel, size, _ in got] == [
        ("a=1/p.parquet", 5),
        ("q.parquet", 1),
    ]


def test_tablelog_round_trip(spark, tmp_path, route):
    from simple_data_workflow_spark.sources.tablelog import (
        table_commit,
        table_delete_where,
        table_read,
        table_verify,
    )

    t = str(tmp_path / "t")
    table_commit(_df(spark), t)
    table_commit(_df(spark, 40, 50), t)
    table_delete_where(spark, t, "g = 1")
    assert _rows(table_read(spark, t)) == _want(i for i in range(50) if i % 3 != 1)
    audit = table_verify(spark, t, check_rows=True)
    assert audit["ok"], audit["issues"]
    assert not [n for n in os.listdir(f"{t}/data") if n.startswith(".stage-")]


def test_delta_round_trip(spark, tmp_path, route):
    from simple_data_workflow_spark.sources.delta_reader import delta_read
    from simple_data_workflow_spark.sources.delta_writer import delta_write

    t = str(tmp_path / "d")
    assert delta_write(_df(spark), t, partition_by=["g"]) == 0
    assert delta_write(_df(spark, 40, 50), t, mode="append") == 1
    assert _rows(delta_read(spark, t)) == _want(range(50))
    assert not [n for n in os.listdir(t) if n.startswith(".staging-")]


def test_iceberg_round_trip(spark, tmp_path, route):
    from simple_data_workflow_spark.sources.iceberg_reader import iceberg_read
    from simple_data_workflow_spark.sources.iceberg_writer import iceberg_write

    t = str(tmp_path / "i")
    iceberg_write(_df(spark), t, partition_by=["g"])
    iceberg_write(_df(spark, 40, 50), t, mode="append")
    assert _rows(iceberg_read(spark, t)) == _want(range(50))
    hint = (tmp_path / "i" / "metadata" / "version-hint.text").read_text()
    assert (tmp_path / "i" / "metadata" / f"v{hint}.metadata.json").exists()


def test_hudi_round_trip(spark, tmp_path, route):
    from simple_data_workflow_spark.sources.hudi_reader import hudi_read
    from simple_data_workflow_spark.sources.hudi_writer import hudi_write

    t = str(tmp_path / "h")
    hudi_write(_df(spark), t, record_key="id", partition_by=["g"])
    hudi_write(
        _df(spark, 40, 50), t, mode="append", record_key="id", partition_by=["g"]
    )
    assert _rows(hudi_read(spark, t)) == _want(range(50))
    for g in range(3):
        assert (tmp_path / "h" / f"g={g}" / ".hoodie_partition_metadata").exists()


def test_publish_from_stage_whose_files_are_already_linked(spark, tmp_path, route):
    """A write-audit-publish retried after an attempt that placed the
    stage's files into the target and then lost its commit race: the
    already-placed files are taken as they are."""
    from simple_data_workflow_spark.sources.tablelog import (
        table_clone,
        table_commit,
        table_publish_from,
        table_read,
        table_verify,
    )

    src, stage = str(tmp_path / "prod"), str(tmp_path / "stage")
    table_commit(_df(spark), src)
    table_clone(spark, src, stage)
    table_commit(_df(spark, 40, 50), stage)
    staged = [n for n in os.listdir(f"{stage}/data") if n.endswith(".parquet")]
    assert staged
    for name in staged:
        tablefs.link_or_copy(spark, f"{stage}/data/{name}", f"{src}/data/{name}")
    table_publish_from(spark, src, stage)
    assert _rows(table_read(spark, src)) == _want(range(50))
    audit = table_verify(spark, src)
    assert audit["ok"], audit["issues"]


def test_tablelog_stream_refuses_unmountable_scheme(spark, tmp_path, monkeypatch):
    """``s3a://`` is a Hadoop scheme pyarrow cannot mount: listing it
    must raise, not fall back to a local path and read as empty. A
    relative path is local and still resolves."""
    import pyarrow as pa
    import pyarrow.fs as pafs

    from simple_data_workflow_spark.sources.tablelog import table_commit
    from simple_data_workflow_spark.streaming.tablelog_source import (
        _fs_for,
        _list_entry_versions,
    )

    with pytest.raises(pa.ArrowInvalid):
        _fs_for("s3a://b/t")
    with pytest.raises(pa.ArrowInvalid):
        _list_entry_versions("s3a://b/t")
    table_commit(_df(spark), str(tmp_path / "rel" / "t"))
    monkeypatch.chdir(tmp_path)
    assert isinstance(_fs_for("rel/t")[0], pafs.LocalFileSystem)
    assert _list_entry_versions("rel/t") == [0]


def test_delta_stream_refuses_non_local_table():
    """The deltalog stream reads through ``open``; an object-store path
    must be refused, not mapped onto a local directory of that name."""
    from simple_data_workflow_spark.streaming.delta_source import (
        _list_log,
        _read_commit,
    )

    with pytest.raises(NotImplementedError, match="local tables only"):
        _list_log("s3://bucket/t")
    with pytest.raises(NotImplementedError, match="local tables only"):
        _read_commit("hdfs://nn/w/t", 0)


def test_delta_vacuum_on_relative_root_keeps_live_files(spark, tmp_path, route):
    """Vacuum must match the files it walks against the live set in one
    spelling: a relative table root is listed relative to that root, so
    a live file is never taken for an orphan."""
    from simple_data_workflow_spark.sources.delta_reader import delta_read
    from simple_data_workflow_spark.sources.delta_writer import (
        delta_vacuum,
        delta_write,
    )

    t = os.path.relpath(str(tmp_path / "d"))  # the JVM shares this cwd
    delta_write(_df(spark), t, partition_by=["g"])
    v0 = [
        f"{t}/{rel}"
        for rel, _, _ in tablefs.staged_files(spark, t)
        if rel.endswith(".parquet")
    ]
    delta_write(_df(spark, 0, 10), t, mode="overwrite", partition_by=["g"])
    assert delta_vacuum(spark, t, retention_hours=0) == v0
    assert _rows(delta_read(spark, t)) == _want(range(10))


_ESCAPED = ["100% sure", "10:00", "plain"]


def _pdf(spark, lo, hi):
    """Rows whose partition values Spark escapes in directory names
    ('%' -> %25, ':' -> %3A)."""
    rows = [(i, _ESCAPED[i % 3]) for i in range(lo, hi)]
    return spark.createDataFrame(rows, "id long, p string").repartition(2)


@pytest.mark.parametrize("fmt", ["delta", "iceberg", "hudi"])
def test_escaped_partition_names_on_file_uri_root(spark, tmp_path, route, fmt):
    """On a ``file:`` root the staged names read off the disk hold
    ``%25``/``%3A``; they must be moved as spelled, not percent-decoded
    along with the root."""
    from simple_data_workflow_spark.sources.delta_reader import delta_read
    from simple_data_workflow_spark.sources.delta_writer import delta_write
    from simple_data_workflow_spark.sources.hudi_reader import hudi_read
    from simple_data_workflow_spark.sources.hudi_writer import hudi_write
    from simple_data_workflow_spark.sources.iceberg_reader import iceberg_read
    from simple_data_workflow_spark.sources.iceberg_writer import iceberg_write

    t = (tmp_path / fmt).as_uri()
    for lo, hi, mode in [(0, 30, "overwrite"), (30, 40, "append")]:
        df = _pdf(spark, lo, hi)
        if fmt == "delta":
            delta_write(df, t, mode=mode, partition_by=["p"])
        elif fmt == "iceberg":
            iceberg_write(df, t, mode=mode, partition_by=["p"])
        else:
            hudi_write(df, t, mode=mode, record_key="id", partition_by=["p"])
    read = {"delta": delta_read, "iceberg": iceberg_read, "hudi": hudi_read}[fmt]
    got = sorted(tuple(r) for r in read(spark, t).select("id", "p").collect())
    assert got == [(i, _ESCAPED[i % 3]) for i in range(40)]
    assert [d for d in (tmp_path / fmt).rglob("*%25*") if d.is_dir()]
    assert not list((tmp_path / fmt).rglob(".staging-*"))


def test_delta_vacuum_on_file_uri_root_with_escaped_partitions(
    spark, tmp_path, route
):
    """Vacuum removes each overwritten file under its on-disk name and
    reports only files it really removed."""
    from simple_data_workflow_spark.sources.delta_reader import delta_read
    from simple_data_workflow_spark.sources.delta_writer import (
        delta_vacuum,
        delta_write,
    )

    t = (tmp_path / "d").as_uri()
    delta_write(_pdf(spark, 0, 30), t, partition_by=["p"])
    v0 = [
        rel
        for rel, _, _ in tablefs.staged_files(spark, str(tmp_path / "d"))
        if rel.endswith(".parquet")
    ]
    delta_write(_pdf(spark, 0, 6), t, mode="overwrite", partition_by=["p"])
    assert delta_vacuum(spark, t, retention_hours=0) == [f"{t}/{r}" for r in v0]
    assert not [r for r in v0 if (tmp_path / "d" / r).exists()]
    got = sorted(tuple(r) for r in delta_read(spark, t).select("id", "p").collect())
    assert got == [(i, _ESCAPED[i % 3]) for i in range(6)]


@pytest.mark.parametrize("add_form", ["plain", "file_uri"])
@pytest.mark.parametrize("root_form", ["relative", "file_uri"])
def test_delta_vacuum_keeps_live_absolute_adds(
    spark, tmp_path, route, add_form, root_form
):
    """Adds recorded as absolute paths (plain or ``file:`` URIs) into
    the table's own root stay live however the root is spelled; only a
    stray file is vacuumed."""
    import json
    import urllib.parse

    from simple_data_workflow_spark.sources.delta_reader import delta_read
    from simple_data_workflow_spark.sources.delta_writer import (
        delta_vacuum,
        delta_write,
    )

    ab = str(tmp_path / "d")
    delta_write(_df(spark), ab, partition_by=["g"])
    log0 = f"{ab}/_delta_log/{0:020d}.json"
    lines = []
    for line in open(log0):
        act = json.loads(line)
        if "add" in act:
            rel = urllib.parse.unquote(act["add"]["path"])
            full = urllib.parse.quote(f"{ab}/{rel}")
            act["add"]["path"] = full if add_form == "plain" else f"file://{full}"
        lines.append(json.dumps(act))
    with open(log0, "w") as f:
        f.write("\n".join(lines) + "\n")
    crc = f"{ab}/_delta_log/.{0:020d}.json.crc"  # left by the Hadoop route
    if os.path.exists(crc):
        os.remove(crc)
    live = sorted((tmp_path / "d").rglob("*.parquet"))
    shutil.copy(live[0], tmp_path / "d" / "stray.parquet")
    old = time.time() - 3600
    for p in (tmp_path / "d").rglob("*.parquet"):
        os.utime(p, (old, old))
    t = os.path.relpath(ab) if root_form == "relative" else f"file://{ab}"
    assert delta_vacuum(spark, t, retention_hours=0) == [f"{t}/stray.parquet"]
    assert all(p.exists() for p in live)
    assert _rows(delta_read(spark, t)) == _want(range(40))


def test_tablelog_file_sizing_and_verify(spark, tmp_path, route, monkeypatch):
    """``table_files_df``, ``table_verify`` and both compactions size and
    probe data files through ``tablefs``: on the local route without a
    single Hadoop filesystem call, and a missing file or a corrupt clone
    marker is reported on both routes."""
    from simple_data_workflow_spark.sources.tablelog import (
        table_commit,
        table_compact,
        table_compact_small,
        table_files_df,
        table_read,
        table_verify,
    )

    t = str(tmp_path / "t")
    table_commit(_df(spark), t)
    table_commit(_df(spark, 40, 50), t)
    if route == "local":
        _forbid_hadoop(monkeypatch)
    files = table_files_df(spark, t).collect()
    assert {r["size_bytes"] for r in files} == {
        os.path.getsize(f"{t}/data/{r['file']}") for r in files
    }
    assert table_verify(spark, t)["ok"]
    monkeypatch.undo()
    if route == "hadoop":
        monkeypatch.setattr(tablefs, "local_root", lambda p: None)
    table_compact_small(spark, t)
    table_compact(spark, t, num_files=1)
    assert _rows(table_read(spark, t)) == _want(range(50))

    live = table_files_df(spark, t).collect()
    os.remove(f"{t}/data/{live[0]['file']}")
    os.makedirs(f"{t}/_clones", exist_ok=True)
    with open(f"{t}/_clones/bad.json", "w") as f:
        f.write("{not json")
    audit = table_verify(spark, t)
    assert not audit["ok"]
    assert any(live[0]["file"] in i and "missing" in i for i in audit["issues"])
    assert any("clone marker bad.json unreadable" in i for i in audit["issues"])


# ------------------------------------------------------------------ Iceberg


def _delete_file_rows(root):
    import pyarrow.parquet as pq

    rows = []
    for name in sorted(os.listdir(f"{root}/data")):
        if name.startswith("delete-") and name.endswith(".parquet"):
            tbl = pq.read_table(f"{root}/data/{name}")
            paths, pos = tbl.column("file_path"), tbl.column("pos")
            rows += zip(paths.to_pylist(), pos.to_pylist())
    return rows


def test_iceberg_delete_packed_and_distributed_agree(
    spark, tmp_path, route, monkeypatch
):
    """Both regimes of the position-delete size gate, the packed driver
    write under the cap and the distributed staged write above it, leave
    the same delete rows and the same table."""
    from simple_data_workflow_spark.sources import iceberg_writer as iw
    from simple_data_workflow_spark.sources.iceberg_reader import iceberg_read

    packed, dist = str(tmp_path / "packed"), str(tmp_path / "dist")
    iw.iceberg_write(_df(spark), packed, partition_by=["g"])
    shutil.copytree(packed, dist)  # same data files, so the same delete rows
    iw.iceberg_delete(spark, packed, "id % 5 = 0")
    monkeypatch.setattr(iw, "_pos_delete_stage_cap", lambda s: 0)
    iw.iceberg_delete(spark, dist, "id % 5 = 0")

    want = _want(i for i in range(40) if i % 5)
    assert _rows(iceberg_read(spark, packed)) == want
    assert _rows(iceberg_read(spark, dist)) == want
    assert [n for n in os.listdir(f"{packed}/data") if n.endswith("-packed.parquet")]
    assert not [n for n in os.listdir(f"{dist}/data") if n.endswith("-packed.parquet")]
    rows = _delete_file_rows(packed)
    assert len(rows) == 8 and rows == sorted(rows)
    assert sorted(_delete_file_rows(dist)) == rows
    assert not [n for n in os.listdir(dist) if n.startswith(".staging-")]


def test_iceberg_equality_delete_round_trip(spark, tmp_path, route):
    from simple_data_workflow_spark.sources.iceberg_reader import iceberg_read
    from simple_data_workflow_spark.sources.iceberg_writer import (
        iceberg_equality_delete,
        iceberg_write,
    )

    t = str(tmp_path / "i")
    iceberg_write(_df(spark), t)
    keys = spark.createDataFrame([(3,), (7,), (7,)], "id long")
    iceberg_equality_delete(spark, t, keys)
    want = _want(i for i in range(40) if i not in (3, 7))
    assert _rows(iceberg_read(spark, t)) == want
    assert [n for n in os.listdir(f"{t}/data") if n.startswith("eqdelete-")]
    assert not [n for n in os.listdir(t) if n.startswith(".staging-")]


def test_iceberg_metadata_commits(spark, tmp_path, route, monkeypatch):
    """A schema change, a ref change and a snapshot expiry each publish
    the next metadata version; the local route makes no Hadoop call."""
    from simple_data_workflow_spark.sources.iceberg_reader import iceberg_read
    from simple_data_workflow_spark.sources.iceberg_writer import (
        iceberg_add_column,
        iceberg_expire_snapshots,
        iceberg_refs,
        iceberg_set_ref,
        iceberg_write,
    )

    t = str(tmp_path / "i")
    s1 = iceberg_write(_df(spark), t)
    s2 = iceberg_write(_df(spark, 40, 50), t, mode="append")
    if route == "local":
        _forbid_hadoop(monkeypatch)
    iceberg_add_column(spark, t, "note", "string")
    iceberg_set_ref(spark, t, "audit", s2, ref_type="tag")
    assert iceberg_refs(spark, t)["audit"]["snapshot-id"] == s2

    def manifest_lists():
        return {n for n in os.listdir(f"{t}/metadata") if n.startswith("snap-")}

    before = manifest_lists()
    assert iceberg_expire_snapshots(spark, t, keep_last=1) == [s1]
    assert manifest_lists() < before  # s1's manifest list is deleted
    hint = (tmp_path / "i" / "metadata" / "version-hint.text").read_text()
    assert hint == "5"
    assert (tmp_path / "i" / "metadata" / "v5.metadata.json").exists()
    got = iceberg_read(spark, t)
    assert "note" in got.columns
    assert _rows(got) == _want(range(50))


def test_deletion_vector_files(spark, tmp_path, route):
    """Iceberg's Puffin file and Delta's DV sidecar are written through
    ``tablefs`` on both routes and applied on read."""
    import glob

    from simple_data_workflow_spark.sources.delta_reader import delta_read
    from simple_data_workflow_spark.sources.delta_writer import (
        delta_delete,
        delta_write,
    )
    from simple_data_workflow_spark.sources.iceberg_reader import iceberg_read
    from simple_data_workflow_spark.sources.iceberg_writer import (
        iceberg_dv_delete,
        iceberg_write,
    )

    want = _want(i for i in range(40) if i % 5)
    ice, dl = str(tmp_path / "i"), str(tmp_path / "d")
    iceberg_write(_df(spark), ice, format_version=3)
    iceberg_dv_delete(spark, ice, "id % 5 = 0")
    assert _rows(iceberg_read(spark, ice)) == want
    assert glob.glob(f"{ice}/data/dv-*.puffin")
    delta_write(_df(spark), dl)
    delta_delete(spark, dl, "id % 5 = 0", strategy="dv")
    assert _rows(delta_read(spark, dl)) == want
    assert glob.glob(f"{dl}/deletion_vector_*.bin")


# -------------------------------------------------------------------- Delta


def test_delta_log_maintenance(spark, tmp_path, route, monkeypatch):
    """Timestamp time travel, restore, clone, both checkpoint layouts and
    log cleanup on both routes; the local route makes no Hadoop call."""
    import json

    from simple_data_workflow_spark.sources.delta_reader import (
        delta_read,
        delta_version_at_timestamp,
    )
    from simple_data_workflow_spark.sources.delta_writer import (
        delta_checkpoint,
        delta_cleanup_log,
        delta_clone,
        delta_restore,
        delta_write,
    )

    t, c = str(tmp_path / "d"), str(tmp_path / "c")
    delta_write(_df(spark), t)
    delta_write(_df(spark, 40, 50), t, mode="append")
    log = f"{t}/_delta_log"
    if route == "local":
        _forbid_hadoop(monkeypatch)
    with open(f"{log}/{0:020d}.json") as f:
        ts0 = next(
            json.loads(line)["commitInfo"]["timestamp"]
            for line in f
            if "commitInfo" in line
        )
    assert delta_version_at_timestamp(spark, t, ts0) == 0
    with pytest.raises(ValueError, match="no Delta commit"):
        delta_version_at_timestamp(spark, t, ts0 - 1)

    assert delta_restore(spark, t, 0) == 2
    assert _rows(delta_read(spark, t)) == _want(range(40))
    assert delta_clone(spark, t, c, version=1) == 0

    assert delta_checkpoint(spark, t) == 2
    with open(f"{log}/_last_checkpoint") as f:
        assert json.load(f)["version"] == 2
    _backdate(f"{log}/{v:020d}.json" for v in range(3))
    assert delta_cleanup_log(spark, t, retention_hours=0) == [0, 1, 2]
    assert _rows(delta_read(spark, t)) == _want(range(40))

    assert delta_checkpoint(spark, t, format="v2") == 3
    assert os.listdir(f"{log}/_sidecars")
    with open(f"{log}/_last_checkpoint") as f:
        assert json.load(f)["version"] == 3
    assert _rows(delta_read(spark, t)) == _want(range(40))
    assert _rows(delta_read(spark, c)) == _want(range(50))


def test_delta_reads_single_slash_file_uri_adds(spark, tmp_path):
    """Adds spelled ``file:/x`` (how Hadoop qualifies a local path) are
    absolute: the read, the restore check and a clone take them as they
    are, never under the table root."""
    import json

    from simple_data_workflow_spark.sources.delta_reader import delta_read
    from simple_data_workflow_spark.sources.delta_writer import (
        delta_clone,
        delta_restore,
        delta_write,
    )

    d, c, c2 = (str(tmp_path / n) for n in ("d", "c", "c2"))
    delta_write(_df(spark), d)
    delta_clone(spark, d, c)
    log0 = f"{c}/_delta_log/{0:020d}.json"
    lines = []
    for line in open(log0):
        act = json.loads(line)
        if "add" in act:
            assert act["add"]["path"].startswith("/")
            act["add"]["path"] = "file:" + act["add"]["path"]
        lines.append(json.dumps(act))
    with open(log0, "w") as f:
        f.write("\n".join(lines) + "\n")
    assert _rows(delta_read(spark, c)) == _want(range(40))
    delta_write(_df(spark, 40, 50), c, mode="append")
    assert delta_restore(spark, c, 0) == 2
    assert _rows(delta_read(spark, c)) == _want(range(40))
    delta_clone(spark, c, c2)
    with open(f"{c2}/_delta_log/{0:020d}.json") as f:
        adds = [json.loads(x)["add"]["path"] for x in f if '"add"' in x]
    assert adds and all(a.startswith(f"file:{d}/") for a in adds)
    assert _rows(delta_read(spark, c2)) == _want(range(40))


class _S3aFs:
    """Stands in for an ``s3a://`` FileSystem: qualifies paths as given
    and reports every file as written at epoch 0."""

    class _Status:
        def getModificationTime(self):
            return 0

        def getLen(self):
            return 0

    def makeQualified(self, p):
        return p

    def getFileStatus(self, p):
        return self._Status()


_S3A_ROOT = "s3a://bucket/warehouse/t"


def _mock_s3a(spark, monkeypatch):
    """Mock the Hadoop FileSystem of an ``s3a://`` Delta root; returns
    the ``{path: bytes}`` map every ``tablefs.write_file`` lands in."""
    written = {}
    monkeypatch.setattr(tablefs, "hadoop_fs", lambda s, p: (spark._jvm, _S3aFs()))
    monkeypatch.setattr(tablefs, "write_file", lambda s, p, d: written.update({p: d}))
    return written


def test_delta_timestamp_lookup_keeps_scheme(spark, monkeypatch):
    """The timestamp lookup reads an ``s3a://`` log under the qualified
    root, not under its bare path on the default filesystem."""
    from simple_data_workflow_spark.sources import delta_reader

    _mock_s3a(spark, monkeypatch)
    read = []
    monkeypatch.setattr(
        tablefs,
        "read_file",
        lambda s, p: read.append(p) or b'{"commitInfo": {"timestamp": 5}}\n',
    )
    monkeypatch.setattr(delta_reader, "_list_log", lambda s, p: ([0, 1], []))
    assert delta_reader.delta_version_at_timestamp(spark, _S3A_ROOT, 10) == 1
    assert read == [f"{_S3A_ROOT}/_delta_log/{v:020d}.json" for v in (0, 1)]


def test_delta_checkpoint_keeps_scheme(spark, tmp_path, monkeypatch):
    """Both checkpoint layouts write every file of an ``s3a://`` table
    under its own ``_delta_log``."""
    import json

    from simple_data_workflow_spark.sources import delta_state, delta_writer

    local = str(tmp_path / "d")
    delta_writer.delta_write(_df(spark), local)
    snap = delta_state.replay_snapshot(spark, local)
    written = _mock_s3a(spark, monkeypatch)
    monkeypatch.setattr(delta_state, "replay_snapshot", lambda s, p, v=None: snap)
    monkeypatch.setattr(delta_writer, "_publish_if_absent", lambda s, p, n, b: True)
    assert delta_writer.delta_checkpoint(spark, _S3A_ROOT) == 0
    assert delta_writer.delta_checkpoint(spark, _S3A_ROOT, format="v2") == 1
    log = f"{_S3A_ROOT}/_delta_log/"
    assert all(p.startswith(log) for p in written)
    assert json.loads(written[f"{log}_last_checkpoint"])["version"] == 1
    assert f"{log}{0:020d}.checkpoint.parquet" in written
    assert [p for p in written if p.startswith(f"{log}_sidecars/")]


def test_delta_clone_keeps_scheme(spark, tmp_path, monkeypatch):
    """A shallow clone of an ``s3a://`` table records its adds and DV
    paths as absolute URIs under the source's qualified root."""
    import json
    import uuid

    from simple_data_workflow_spark.sources import delta_writer
    from simple_data_workflow_spark.sources.delta_dv import z85_encode

    add = {
        "path": "g%3D1/part-0.parquet",
        "size": 1,
        "partitionValues": {},
        "deletionVector": {
            "storageType": "u",
            "pathOrInlineDv": z85_encode(uuid.uuid4().bytes),
        },
    }

    def replay(s, p, version=None):
        if p != _S3A_ROOT:
            raise FileNotFoundError(p)
        return {add["path"]: add}, {"id": "x"}, None, 3, {}

    published = []
    _mock_s3a(spark, monkeypatch)
    monkeypatch.setattr(delta_writer, "_replay_full", replay)
    monkeypatch.setattr(
        delta_writer,
        "_publish_if_absent",
        lambda s, p, n, b: published.append(b) or True,
    )
    assert delta_writer.delta_clone(spark, _S3A_ROOT, str(tmp_path / "c")) == 0
    (got,) = [
        json.loads(line)["add"] for line in published[0].splitlines() if '"add"' in line
    ]
    assert got["path"] == f"{_S3A_ROOT}/g%3D1/part-0.parquet"
    assert got["deletionVector"]["storageType"] == "p"
    dv_path = got["deletionVector"]["pathOrInlineDv"]
    assert dv_path.startswith(f"{_S3A_ROOT}/deletion_vector_")


# ----------------------------------------------------------------- tablelog


def test_tablelog_history_time_travel_clone_vacuum_truncate(
    spark, tmp_path, route, monkeypatch
):
    """The mtime fallback of ``table_history`` and timestamp time travel,
    clone markers, the vacuum listing and log truncation on both routes;
    the local route makes no Hadoop call."""
    import json

    from simple_data_workflow_spark.sources.tablelog import (
        table_clone,
        table_commit,
        table_files_df,
        table_history,
        table_read,
        table_truncate_history,
        table_vacuum,
        table_version_at_timestamp,
    )

    t, c = str(tmp_path / "t"), str(tmp_path / "c")
    table_commit(_df(spark), t)
    table_commit(_df(spark, 40, 50), t)
    # a legacy entry without a recorded "ts" dates from its file's mtime
    e0 = f"{t}/_log/00000000.json"
    with open(e0) as f:
        entry = json.load(f)
    del entry["ts"]
    with open(e0, "w") as f:
        json.dump(entry, f)
    if os.path.exists(f"{t}/_log/.00000000.json.crc"):
        os.remove(f"{t}/_log/.00000000.json.crc")
    _backdate([e0], 1_600_000_000)
    if route == "local":
        _forbid_hadoop(monkeypatch)
    hist = table_history(spark, t)
    assert [h["version"] for h in hist] == [0, 1]
    assert hist[0]["timestamp"] == "2020-09-13T12:26:40+00:00"
    assert table_version_at_timestamp(spark, t, 1_600_000_000_000) == 0
    with pytest.raises(ValueError, match="predates"):
        table_version_at_timestamp(spark, t, 1_599_999_999_999)

    table_clone(spark, t, c)
    assert [n for n in os.listdir(f"{t}/_clones") if n.endswith(".json")]
    table_commit(_df(spark, 50, 60), t, mode="overwrite")
    assert table_truncate_history(spark, t, keep_last=1) == 2
    assert sorted(n for n in os.listdir(f"{t}/_log") if not n.startswith(".")) == [
        "00000002.checkpoint.json",
        "00000002.json",
    ]
    _backdate(f"{t}/data/{n}" for n in os.listdir(f"{t}/data"))
    _backdate(f"{t}/_clones/{n}" for n in os.listdir(f"{t}/_clones"))
    table_vacuum(spark, t, retention_hours=0)
    assert _rows(table_read(spark, c)) == _want(range(50))  # the clone's files stay
    assert _rows(table_read(spark, t)) == _want(range(50, 60))

    shutil.rmtree(c)
    assert table_vacuum(spark, t, retention_hours=0) >= 3
    assert not [n for n in os.listdir(f"{t}/_clones") if n.endswith(".json")]
    live = {r["file"] for r in table_files_df(spark, t).collect()}
    assert {n for n in os.listdir(f"{t}/data") if n.endswith(".parquet")} == live
    assert _rows(table_read(spark, t)) == _want(range(50, 60))


def test_tablelog_vacuum_skips_entry_removed_mid_listing(
    spark, tmp_path, monkeypatch
):
    """An entry that an in-flight commit removes while vacuum reads
    ``data/`` (its ``.stage-*`` dir, a zero-row file) is skipped; the
    vacuum still reaps the orphan beside it."""
    import contextlib

    from simple_data_workflow_spark.sources.tablelog import (
        table_commit,
        table_read,
        table_vacuum,
    )

    t = str(tmp_path / "t")
    table_commit(_df(spark), t)
    stage = f"{t}/data/.stage-inflight"
    os.makedirs(stage)
    orphan = f"{t}/data/orphan.parquet"
    open(orphan, "wb").close()
    _backdate(f"{t}/data/{n}" for n in os.listdir(f"{t}/data"))
    real_scandir = os.scandir

    def scandir(d):
        it = real_scandir(d)
        if not os.fspath(d).endswith("/data"):
            return it
        with it:
            entries = list(it)
        os.rmdir(stage)  # gone between the listing and the stat
        return contextlib.nullcontext(iter(entries))

    monkeypatch.setattr(os, "scandir", scandir)
    assert table_vacuum(spark, t, retention_hours=0) == 1
    monkeypatch.undo()
    assert not os.path.exists(orphan)
    assert _rows(table_read(spark, t)) == _want(range(40))


# -------------------------------------------------------------------- sinks


def test_compact_parquet_swaps_in_rewrite(spark, tmp_path, route):
    from simple_data_workflow_spark.sources.sinks import compact_parquet

    p = str(tmp_path / "pq")
    _df(spark).write.parquet(p)
    assert compact_parquet(spark, p, target_file_mb=1) == 1
    assert _rows(spark.read.parquet(p)) == _want(range(40))
    assert sorted(os.listdir(tmp_path)) == ["pq"]


def test_compact_parquet_failed_swap_keeps_table(spark, tmp_path, route, monkeypatch):
    """When moving the rewrite into place fails, the error surfaces and
    the original table, whose only copy is then the backup, is put back."""
    from simple_data_workflow_spark.sources.sinks import compact_parquet

    p = str(tmp_path / "pq")
    _df(spark).write.parquet(p)
    n_before = len([n for n in os.listdir(p) if n.endswith(".parquet")])
    real_move = tablefs.move

    def move(spark_, src, dst):
        if src.endswith("__compacting"):
            raise OSError("injected: rename of the rewrite failed")
        real_move(spark_, src, dst)

    monkeypatch.setattr(tablefs, "move", move)
    with pytest.raises(OSError, match="injected"):
        compact_parquet(spark, p, target_file_mb=1)
    assert len([n for n in os.listdir(p) if n.endswith(".parquet")]) == n_before
    assert _rows(spark.read.parquet(p)) == _want(range(40))
    assert not os.path.exists(p + "__precompact")


def test_incremental_agg_state_versions(spark, tmp_path, route):
    """The streaming state table's version listing, replay check and
    prune of old versions on both routes."""
    from simple_data_workflow_spark.streaming.sinks import (
        apply_incremental_batch,
        read_materialized_agg,
    )

    state = str(tmp_path / "state")
    batch = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, x double")
    for batch_id in (0, 1, 2, 3, 1):  # the last one replays
        apply_incremental_batch(spark, state, batch, batch_id, ["k"], "x")
    assert sorted(n for n in os.listdir(state) if n.startswith("v=")) == [
        "v=1",
        "v=2",
        "v=3",
    ]
    got = {
        r["k"]: (r["sum_val"], r["n_rows"])
        for r in read_materialized_agg(spark, state).collect()
    }
    assert got == {"a": (4.0, 4), "b": (8.0, 4)}


# ---------------------------------------------------------------- invariant


def test_only_tablefs_touches_the_hadoop_filesystem():
    """Every table-file operation goes through ``sources/tablefs.py``:
    no other package module reaches the Hadoop FileSystem itself."""
    import pathlib

    import simple_data_workflow_spark

    pkg = pathlib.Path(simple_data_workflow_spark.__file__).parent
    banned = ("hadoop_fs(", "org.apache.hadoop.fs", "getFileSystem(", "listStatus(")
    hits = [
        f"{src.relative_to(pkg)}:{n}: {line.strip()}"
        for src in sorted(pkg.rglob("*.py"))
        if src != pkg / "sources" / "tablefs.py"
        for n, line in enumerate(src.read_text().splitlines(), 1)
        if any(b in line for b in banned)
    ]
    assert not hits, "\n".join(hits)
