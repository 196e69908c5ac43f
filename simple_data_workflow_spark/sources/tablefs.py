"""The table filesystem: how every table format's files are published,
staged, moved, linked, read, listed and removed.

The tablelog, Delta, Iceberg and Hudi writers and readers call this
module for those operations instead of branching on the filesystem
themselves. It has two branches, chosen per path by :func:`local_root`:

- **Local** (no scheme, or ``file:``): plain ``os`` calls. Each one is
  microseconds, where the same operation through the JVM is a py4j round
  trip (profiled DML roundtrips spent 1-1.5 s per query in that chatter
  alone).
- **Non-local** (any other scheme): the Hadoop ``FileSystem`` of the
  session, through py4j (:func:`hadoop_fs`). Spark's own staging writes
  (``df.write.parquet``) go through Hadoop too, so this branch sees the
  same ``spark.hadoop.*`` settings and connectors those writes do.
  ``pyarrow.fs`` is not used here: pyarrow 16's
  ``FileSystem.from_uri`` rejects ``s3a://`` and needs libhdfs for
  ``hdfs://``. It stays only in the executor-side streaming code, where
  there is no py4j.

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
    loc = local_root(path)
    if loc is not None:
        return os.path.exists(loc)
    jvm, fs = hadoop_fs(spark, path)
    return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(path)))


def size(spark, path: str) -> int:
    """Length in bytes of the file at ``path``; raises when it is absent."""
    loc = local_root(path)
    if loc is not None:
        return os.path.getsize(loc)
    jvm, fs = hadoop_fs(spark, path)
    return int(fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(path)).getLen())


def list_dir(spark, dirpath: str) -> list[str] | None:
    """Entry names (not paths) in ``dirpath``; None when it is absent."""
    loc = local_root(dirpath)
    if loc is not None:
        try:
            return os.listdir(loc)
        except FileNotFoundError:
            return None
    jvm, fs = hadoop_fs(spark, dirpath)
    p = jvm.org.apache.hadoop.fs.Path(dirpath)
    if not fs.exists(p):
        return None
    return [st.getPath().getName() for st in fs.listStatus(p)]


def read_file(spark, path: str) -> bytes:
    """The whole content of the file at ``path``."""
    loc = local_root(path)
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
    loc = local_root(dirpath)
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
    loc = local_root(root)
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
    """Move the file ``src`` to ``dst``, creating ``dst``'s directory
    first. Never overwrites; raises when the move does not happen."""
    lsrc, ldst = local_root(src), local_root(dst)
    if lsrc is not None and ldst is not None:
        os.makedirs(os.path.dirname(ldst), exist_ok=True)
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
    lsrc, ldst = local_root(src), local_root(dst)
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
    loc = local_root(path)
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
    loc = local_root(path)
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
