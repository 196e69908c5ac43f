"""The table filesystem layer (``sources.tablefs``) on both branches.

The ``hadoop`` route forces the non-local branch (the Hadoop
FileSystem through py4j) onto a local directory, so the code that
object-store and HDFS tables run is exercised here too. Every format's
round trip must return the same rows on both routes."""

import os

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
    import shutil
    import time
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

        def no_hadoop(*a, **k):
            raise AssertionError("py4j FileSystem call on a local table")

        monkeypatch.setattr(tablefs, "hadoop_fs", no_hadoop)
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
