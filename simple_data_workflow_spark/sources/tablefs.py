"""The table filesystem: how every table format's files are published,
staged, moved, linked, read, listed, stat'ed and removed.

This is the only module in the package that touches the Hadoop
``FileSystem``. The tablelog, Delta, Iceberg and Hudi writers and
readers, and the parquet and streaming sinks, call it instead of
branching on the filesystem themselves. It has two branches, chosen per
path by its scheme:

- **Local** (``file:``, or no scheme while the session's
  ``fs.defaultFS`` is ``file:``): plain ``os`` calls. Each one is
  microseconds, where the same operation through the JVM is a py4j round
  trip (profiled DML roundtrips spent 1-1.5 s per query in that chatter
  alone).
- **Non-local** (any other scheme, or no scheme on a session whose
  ``fs.defaultFS`` is not ``file:``): the Hadoop ``FileSystem`` of the
  session, through py4j (:func:`hadoop_fs`). Spark's own staging writes
  (``df.write.parquet``) go through Hadoop too, so this branch sees the
  same ``spark.hadoop.*`` settings and connectors those writes do.
  ``pyarrow.fs`` is not used here: pyarrow 16's
  ``FileSystem.from_uri`` rejects ``s3a://`` and needs libhdfs for
  ``hdfs://``. It stays only in the executor-side streaming code, where
  there is no py4j.

A path without a scheme thus resolves where Spark's own
``read.parquet``/``write.parquet`` resolve it. :func:`local_root` alone
answers from the spelling; it is for code that runs where the session
is not at hand.

Every path keeps the spelling its caller gave it. :func:`stat` gives a
file's ``(size, mtime_ms)``, the commit-time fallback of the table
logs; :func:`qualified_root` gives a table root as absolute file paths
under it are spelled, keeping scheme and authority on non-local roots
(``s3a://b/t`` never becomes ``/t`` on the default filesystem).

Atomicity parity: :func:`publish_if_absent` publishes locally with
``os.link``, whose POSIX ``link(2)`` fails with EEXIST atomically, so
two racing writers can never both win. The Hadoop branch checks the
target, then renames onto it. HDFS ``rename`` refuses an existing
destination, so that is safe there; object stores without an if-absent
primitive keep the best-effort caveat every log-based format carries.
On both branches a ``False`` means another writer won; every other
failure raises.

Checksum parity: Hadoop's ChecksumFileSystem leaves ``.name.crc``
sidecars next to the files it wrote. Overwriting or renaming over such
a file from Python would strand a stale ``.crc`` that later Hadoop reads
verify against, so every local mutating helper here drops the adjacent
sidecar first. The Hadoop branch keeps its sidecars itself.

A test can force the non-local branch on a local directory with
``monkeypatch.setattr(tablefs, "local_root", lambda p: None)``, which
is why callers look ``local_root`` up through the module.
"""

from __future__ import annotations

import os
import shutil
import urllib.parse
import uuid


def local_root(path: str) -> str | None:
    """The plain-local filesystem path for ``path``, or ``None`` when
    the path carries a non-``file:`` scheme (delegate to Hadoop)."""
    if "://" not in path and not path.startswith("file:"):
        return path
    if path.startswith("file:"):
        parsed = urllib.parse.urlparse(path)
        return urllib.parse.unquote(parsed.path) or "/"
    return None


def _local(spark, path: str) -> str | None:
    """:func:`local_root`, except that a path without a scheme is local
    only when the session's ``fs.defaultFS`` is ``file:``. That setting
    is read once per SparkContext (a py4j round trip costs more than
    the ``os`` call it guards), so a later change to it is not seen."""
    loc = local_root(path)
    if loc is None or path.startswith("file:"):
        return loc
    sc = spark.sparkContext
    on_file = getattr(sc, "_tablefs_default_is_file", None)
    if on_file is None:
        default = sc._jsc.hadoopConfiguration().get("fs.defaultFS")
        on_file = default is None or default.startswith("file:")
        sc._tablefs_default_is_file = on_file
    return loc if on_file else None


def hadoop_fs(spark, path: str):
    """``(jvm, FileSystem)`` serving ``path`` under the session's Hadoop
    configuration."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


# ------------------------------------------------------------ local branch


def _drop_crc(path: str) -> None:
    d, name = os.path.split(path)
    crc = os.path.join(d, f".{name}.crc")
    if os.path.exists(crc):
        try:
            os.remove(crc)
        except OSError:
            pass


def write_if_absent(path: str, data: bytes) -> bool:
    """Publish ``data`` to ``path`` if-absent via ``link(2)``; returns
    whether this writer won (False = EEXIST, another writer won)."""
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-{os.getpid()}-{id(data)}-{os.urandom(4).hex()}")
    with open(tmp, "wb") as f:
        f.write(data)
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


# ------------------------------------------------------------ both branches


def exists(spark, path: str) -> bool:
    """Whether a file or directory is at ``path``."""
    loc = _local(spark, path)
    if loc is not None:
        return os.path.exists(loc)
    jvm, fs = hadoop_fs(spark, path)
    return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(path)))


def stat(spark, path: str) -> tuple[int, int]:
    """``(size in bytes, mtime in ms)`` of the file or directory at
    ``path``; raises when it is absent."""
    loc = _local(spark, path)
    if loc is not None:
        st = os.stat(loc)
        return st.st_size, st.st_mtime_ns // 1_000_000
    jvm, fs = hadoop_fs(spark, path)
    st = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(path))
    return int(st.getLen()), int(st.getModificationTime())


def qualified_root(spark, path: str) -> str:
    """``path`` as the absolute file paths under it are spelled: the
    plain local path for local roots (no py4j), otherwise the qualified
    Hadoop path, which keeps scheme and authority."""
    loc = _local(spark, path)
    if loc is not None:
        return loc
    jvm, fs = hadoop_fs(spark, path)
    return str(fs.makeQualified(jvm.org.apache.hadoop.fs.Path(path)))


def list_dir(spark, dirpath: str) -> dict[str, int] | None:
    """The entries in ``dirpath``, files and directories, as a dict from
    name (not path) to mtime in ms, taken with the listing; None when
    ``dirpath`` is absent. An entry removed while the directory is read
    is left out."""
    loc = _local(spark, dirpath)
    if loc is not None:
        out = {}
        try:
            with os.scandir(loc) as it:
                for e in it:
                    try:
                        out[e.name] = e.stat().st_mtime_ns // 1_000_000
                    except FileNotFoundError:
                        pass
        except FileNotFoundError:
            return None
        return out
    jvm, fs = hadoop_fs(spark, dirpath)
    p = jvm.org.apache.hadoop.fs.Path(dirpath)
    if not fs.exists(p):
        return None
    return {
        st.getPath().getName(): int(st.getModificationTime())
        for st in fs.listStatus(p)
    }


def read_file(spark, path: str) -> bytes:
    """The whole content of the file at ``path``."""
    loc = _local(spark, path)
    if loc is not None:
        with open(loc, "rb") as f:
            return f.read()
    jvm, fs = hadoop_fs(spark, path)
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(path))
    try:
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def publish_if_absent(spark, dirpath: str, name: str, data: bytes) -> bool:
    """Publish ``data`` as ``dirpath/name`` only if no file has that
    name — the commit point of every table log. Returns False only when
    another writer holds the name; every other failure raises."""
    loc = _local(spark, dirpath)
    if loc is not None:
        return write_if_absent(f"{loc}/{name}", data)
    jvm, fs = hadoop_fs(spark, dirpath)
    Path = jvm.org.apache.hadoop.fs.Path
    target = Path(f"{dirpath}/{name}")
    if fs.exists(target):
        return False
    fs.mkdirs(Path(dirpath))
    tmp = Path(f"{dirpath}/.tmp-{uuid.uuid4().hex}")
    out = fs.create(tmp, False)
    try:
        out.write(data)
    finally:
        out.close()
    if fs.rename(tmp, target):
        return True
    fs.delete(tmp, False)
    if fs.exists(target):
        return False
    raise IOError(f"failed to publish {dirpath}/{name}")


def staged_files(spark, root: str, skip=None) -> list[tuple[str, int, int]]:
    """Every file under ``root``, recursively, as sorted ``(relpath,
    size, mtime_ms)`` triples. Directories whose name ``skip(name)``
    accepts are not entered. Dot- and underscore-files (``.crc``
    sidecars, ``_SUCCESS``) are listed; callers filter by name.

    Each relpath is the literal name on disk, which may hold ``%``
    (Spark escapes partition values). Join it onto
    ``local_root(root) or root``, never onto a ``file:`` URI, which
    :func:`local_root` percent-decodes whole."""
    out = []
    loc = _local(spark, root)
    if loc is not None:

        def walk(d, prefix):
            with os.scandir(d) as it:
                for e in it:
                    if e.is_dir():
                        if not (skip and skip(e.name)):
                            walk(e.path, f"{prefix}{e.name}/")
                    else:
                        st = e.stat()
                        mtime_ms = st.st_mtime_ns // 1_000_000
                        out.append((prefix + e.name, st.st_size, mtime_ms))

        walk(loc, "")
        return sorted(out)
    jvm, fs = hadoop_fs(spark, root)

    def jwalk(p, prefix):
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if st.isDirectory():
                if not (skip and skip(name)):
                    jwalk(st.getPath(), f"{prefix}{name}/")
            else:
                mtime_ms = int(st.getModificationTime())
                out.append((prefix + name, int(st.getLen()), mtime_ms))

    jwalk(jvm.org.apache.hadoop.fs.Path(root), "")
    return sorted(out)


def move(spark, src: str, dst: str) -> None:
    """Move the file or directory ``src`` to ``dst``, creating ``dst``'s
    parent directory first. Never overwrites; raises when the move does
    not happen."""
    lsrc, ldst = _local(spark, src), _local(spark, dst)
    if lsrc is not None and ldst is not None:
        os.makedirs(os.path.dirname(ldst), exist_ok=True)
        if os.path.isdir(lsrc):
            if os.path.lexists(ldst):
                raise FileExistsError(f"cannot move {src} onto existing {dst}")
            os.rename(lsrc, ldst)
            return
        _drop_crc(ldst)
        os.link(lsrc, ldst)  # FileExistsError rather than overwrite
        os.remove(lsrc)
        return
    jvm, fs = hadoop_fs(spark, dst)
    Path = jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(Path(dst).getParent())
    if not fs.rename(Path(src), Path(dst)):
        raise IOError(f"failed to move {src} to {dst}")


def link_or_copy(spark, src: str, dst: str) -> None:
    """Make ``dst`` hold the immutable file ``src``, keeping ``src``: a
    hard link locally, a Hadoop copy elsewhere. Idempotent — an existing
    ``dst`` is taken to be this same file, placed by an earlier try."""
    lsrc, ldst = _local(spark, src), _local(spark, dst)
    if lsrc is not None and ldst is not None:
        os.makedirs(os.path.dirname(ldst), exist_ok=True)
        try:
            os.link(lsrc, ldst)
        except FileExistsError:
            pass
        return
    jvm, fs = hadoop_fs(spark, dst)
    Path = jvm.org.apache.hadoop.fs.Path
    if fs.exists(Path(dst)):
        return
    _, src_fs = hadoop_fs(spark, src)
    conf = spark._jsc.hadoopConfiguration()
    FileUtil = jvm.org.apache.hadoop.fs.FileUtil
    if not FileUtil.copy(src_fs, Path(src), fs, Path(dst), False, conf):
        raise IOError(f"failed to copy {src} to {dst}")


def write_file(spark, path: str, data: bytes) -> None:
    """Overwrite ``path`` with ``data`` — for pointer and property files
    that are rewritten in place, never for commit points."""
    loc = _local(spark, path)
    if loc is not None:
        os.makedirs(os.path.dirname(loc), exist_ok=True)
        _drop_crc(loc)
        tmp = f"{loc}.__tmp{os.getpid()}__"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, loc)  # atomic overwrite
        return
    jvm, fs = hadoop_fs(spark, path)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path), True)
    try:
        out.write(data)
    finally:
        out.close()


def remove(spark, path: str, recursive: bool = False) -> bool:
    """Delete ``path`` (a directory tree when ``recursive``); False when
    it was already gone."""
    loc = _local(spark, path)
    if loc is not None:
        try:
            if recursive and os.path.isdir(loc):
                shutil.rmtree(loc)
            elif os.path.isdir(loc):
                os.rmdir(loc)
            else:
                os.remove(loc)
        except FileNotFoundError:
            return False
        _drop_crc(loc)
        return True
    jvm, fs = hadoop_fs(spark, path)
    return bool(fs.delete(jvm.org.apache.hadoop.fs.Path(path), recursive))
