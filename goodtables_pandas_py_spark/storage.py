"""Driver-side file operations: small metadata files, listings,
deletes and partition copies — everything the versioned release and
IVF stores and the source sniffers do outside Spark jobs.

One rule picks the filesystem, from where the path points: a
``file://`` URI, or a plain path in a session whose default
filesystem (``fs.defaultFS``) is local, goes through Python ``os``;
any other scheme, and a plain path that names the default filesystem
of a cluster (HDFS on a typical YARN deployment), goes through Hadoop
``FileSystem`` on the session's JVM gateway, and raises RuntimeError
on a session that has none. A session without a gateway (Spark
Connect) reads plain paths locally. The default filesystem is looked
up once per session, so classic and Connect sessions run the same
code on local roots and make no py4j round trip there.

Atomicity follows the backend: locally, :func:`create_exclusive` is
``O_EXCL`` and :func:`replace_text` is ``os.replace`` (POSIX atomic,
no moment without the file); on Hadoop they are ``createNewFile`` and
delete-then-rename, atomic on HDFS but not on object stores.

Hadoop's checksummed local filesystem leaves a ``.NAME.crc`` sidecar
beside every file it writes. A local write that overwrites, replaces
or deletes ``NAME`` drops that sidecar first, so roots once written
through Hadoop stay readable through it (a stale checksum fails every
Hadoop read of the file)."""

from __future__ import annotations

import os
import shutil
import weakref
from urllib.parse import quote, unquote, urlsplit


def _jvm_fs(spark):
    """The py4j gateway handles needed for Hadoop FileSystem calls:
    ``(jvm, hadoopConfiguration)``. These are classic-session private
    attributes with no Spark Connect equivalent (Connect clients hold
    no JVM gateway at all), so a non-local path on such a session
    raises this RuntimeError naming the cause."""
    jvm = getattr(spark, "_jvm", None)
    jsc = getattr(spark, "_jsc", None)
    if jvm is None or jsc is None:
        raise RuntimeError(
            "Hadoop FS access needs a classic (JVM-gateway) "
            "SparkSession; this session (likely Spark Connect) "
            "exposes none"
        )
    return jvm, jsc.hadoopConfiguration()


def _local_fs_path(path: str) -> str | None:
    """The local-filesystem form of ``path`` if it is written as local
    (plain path or file:// URI), else None. A URI's path is
    percent-decoded."""
    parsed = urlsplit(path)
    if not parsed.scheme:
        return path
    if parsed.scheme != "file":
        return None
    return unquote(parsed.path)


# session -> scheme of its fs.defaultFS; weak keys, so a stopped
# session's entry goes with it
_DEFAULT_SCHEME: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _default_scheme(spark) -> str:
    """Scheme of the filesystem a plain path names in ``spark``,
    looked up once per session. "file" without a JVM gateway, and for
    ``spark=None`` (a reader that is Python alone)."""
    if spark is None:
        return "file"
    try:
        return _DEFAULT_SCHEME[spark]
    except KeyError:
        pass
    try:
        jvm, hconf = _jvm_fs(spark)
    except RuntimeError:
        scheme = "file"
    else:
        uri = jvm.org.apache.hadoop.fs.FileSystem.getDefaultUri(hconf)
        scheme = uri.getScheme() or "file"
    _DEFAULT_SCHEME[spark] = scheme
    return scheme


def _local(spark, path: str) -> str | None:
    """The local path that serves ``path`` in ``spark``, None when
    Hadoop must: the backend classifier of every function below."""
    if not urlsplit(path).scheme and _default_scheme(spark) != "file":
        return None  # a plain path on a cluster's default filesystem
    return _local_fs_path(path)


def require_local(spark, path: str, api: str) -> str:
    """``path`` as a local filesystem path, for APIs that read and
    write through ``os`` / pyarrow directly and hand Spark plain
    paths (the IVF index layout); ValueError before anything is
    written when ``path`` is on another store, or when ``spark``'s
    plain paths name a non-local default filesystem."""
    default = _default_scheme(spark)
    scheme = urlsplit(path).scheme or default
    local = _local(spark, path)
    if local is None or default != "file":
        raise ValueError(
            f"{api}: {path!r} is on a {scheme}:// store in a session "
            f"whose default filesystem is {default}://, but IVF "
            "indexes are local-only (plain paths or file:// URIs, in "
            "a session whose default filesystem is local)"
        )
    return local


def _hadoop(spark, path: str):
    """``(jvm, FileSystem, Path)`` for a non-local ``path``."""
    jvm, hconf = _jvm_fs(spark)
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, jpath.getFileSystem(hconf), jpath


def _drop_crc(local: str) -> None:
    head, name = os.path.split(local)
    try:
        os.remove(os.path.join(head, f".{name}.crc"))
    except FileNotFoundError:
        pass


def _hadoop_write(fs, jpath, text: str) -> None:
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def read_text(spark, path: str) -> str | None:
    """A small UTF-8 file's whole content, None when it is missing."""
    local = _local(spark, path)
    if local is not None:
        try:
            with open(local, encoding="utf-8") as fh:
                return fh.read()
        except FileNotFoundError:
            return None
    jvm, fs, jpath = _hadoop(spark, path)
    try:
        stream = fs.open(jpath)
    except Exception as e:
        # no exists() probe first: a file deleted between the probe and
        # the open (a pointer swap's delete-then-rename) would raise
        # here anyway, as py4j's wrapped java.io.FileNotFoundException
        java = getattr(e, "java_exception", None)
        if java is None or (
            java.getClass().getName() != "java.io.FileNotFoundException"
        ):
            raise
        return None
    # copied JVM-side: a Python bytearray buffer would NOT round-trip
    # through py4j (Java fills a copy)
    sink = jvm.java.io.ByteArrayOutputStream()
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, sink, 4096, True)
    return bytes(sink.toByteArray()).decode("utf-8")


def read_head(spark, path: str, n: int) -> bytes:
    """At most the first ``n`` bytes of one file."""
    local = _local(spark, path)
    if local is not None:
        with open(local, "rb") as fh:
            return fh.read(n)
    jvm, fs, jpath = _hadoop(spark, path)
    want = min(n, fs.getFileStatus(jpath).getLen())
    stream = fs.open(jpath)
    sink = jvm.java.io.ByteArrayOutputStream()
    try:
        # exact-count JVM-side copy (ByteBuffer reads are unsupported
        # on ChecksumFileSystem, so no zero-copy path here)
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            stream, sink, int(want), False
        )
        return bytes(sink.toByteArray())
    finally:
        stream.close()


def write_text(spark, path: str, text: str) -> None:
    """Create or overwrite ``path`` (and its parent dirs) with ``text``."""
    local = _local(spark, path)
    if local is not None:
        os.makedirs(os.path.dirname(local) or ".", exist_ok=True)
        _drop_crc(local)
        with open(local, "w", encoding="utf-8") as fh:
            fh.write(text)
        return
    _, fs, jpath = _hadoop(spark, path)
    _hadoop_write(fs, jpath, text)


def create_exclusive(spark, path: str) -> bool:
    """Create the empty file ``path`` (and its parent dirs) unless it
    exists; True when this call created it. ``O_EXCL`` locally;
    ``FileSystem.createNewFile`` on Hadoop, which is atomic on HDFS
    (its generic form is exists-then-create)."""
    local = _local(spark, path)
    if local is not None:
        os.makedirs(os.path.dirname(local) or ".", exist_ok=True)
        try:
            os.close(os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        except FileExistsError:
            return False
        return True
    _, fs, jpath = _hadoop(spark, path)
    fs.mkdirs(jpath.getParent())
    return bool(fs.createNewFile(jpath))


def replace_text(spark, path: str, text: str) -> None:
    """Replace ``path``'s content as one step: ``text`` lands fully in
    ``path.tmp`` first. Locally the tmp file is fsynced and
    ``os.replace``d over ``path`` (atomic, never absent). Hadoop
    rename does not overwrite, so there it is delete-then-rename,
    which leaves a sub-ms window with no ``path``."""
    local = _local(spark, path)
    if local is not None:
        tmp = f"{local}.tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(text)
            fh.flush()
            os.fsync(fh.fileno())
        _drop_crc(local)
        os.replace(tmp, local)
        return
    jvm, fs, jpath = _hadoop(spark, path)
    jtmp = jvm.org.apache.hadoop.fs.Path(f"{path}.tmp")
    _hadoop_write(fs, jtmp, text)
    if fs.exists(jpath):
        fs.delete(jpath, False)
    if not fs.rename(jtmp, jpath):
        raise IOError(f"replace failed: {path}")


def mtime(spark, path: str) -> float | None:
    """Modification time (epoch seconds), None when ``path`` is missing."""
    local = _local(spark, path)
    if local is not None:
        try:
            return os.path.getmtime(local)
        except FileNotFoundError:
            return None
    _, fs, jpath = _hadoop(spark, path)
    if not fs.exists(jpath):
        return None
    return fs.getFileStatus(jpath).getModificationTime() / 1000.0


def list_dir(spark, path: str) -> list[tuple[str, bool]]:
    """``(name, is_dir)`` of each entry of a directory, [] when it is
    missing. Local listings include Hadoop ``.crc`` sidecars."""
    local = _local(spark, path)
    if local is not None:
        try:
            with os.scandir(local) as it:
                return [(e.name, e.is_dir()) for e in it]
        except FileNotFoundError:
            return []
    _, fs, jpath = _hadoop(spark, path)
    if not fs.exists(jpath):
        return []
    return [
        (st.getPath().getName(), bool(st.isDirectory()))
        for st in fs.listStatus(jpath)
    ]


def child(path: str, name: str) -> str:
    """The path of the entry ``name``, as :func:`list_dir` reports it,
    under the directory ``path``. A ``file:`` URI is percent-decoded
    where it is served, so the name is quoted onto it: Spark writes a
    split value ``b?c`` as the directory ``split=b%3Fc``, which must
    not resolve to ``split=b?c``. Plain paths and Hadoop paths take
    names as they are."""
    if urlsplit(path).scheme == "file":
        name = quote(name)
    return f"{path}/{name}"


def delete(spark, path: str, recursive: bool = False) -> None:
    """Delete a file, or a directory tree with ``recursive``; a
    missing ``path`` is not an error."""
    local = _local(spark, path)
    if local is not None:
        if recursive and os.path.isdir(local):
            shutil.rmtree(local, ignore_errors=True)
            return
        _drop_crc(local)
        try:
            os.remove(local)
        except FileNotFoundError:
            pass
        return
    _, fs, jpath = _hadoop(spark, path)
    fs.delete(jpath, recursive)


def copy_tree(spark, src: str, dst: str) -> None:
    """Clone one immutable directory of files (a partition) into
    ``dst``. Locally each file is HARDLINKED (O(files) metadata ops,
    zero bytes moved — the versions share the immutable parts, and a
    recursive delete only drops link counts), copied where the FS has
    no hardlinks; on Hadoop it is ``FileUtil.copy``, which still skips
    the expensive part — no Spark job, no shuffle, no re-encode."""
    lsrc, ldst = _local(spark, src), _local(spark, dst)
    if lsrc is not None and ldst is not None:
        os.makedirs(ldst, exist_ok=True)
        for name in os.listdir(lsrc):
            s, d = os.path.join(lsrc, name), os.path.join(ldst, name)
            try:
                os.link(s, d)
            except OSError:  # cross-device / FS without hardlinks
                shutil.copy2(s, d)
        return
    jvm, fs, jsrc = _hadoop(spark, src)
    jdst = jvm.org.apache.hadoop.fs.Path(dst)
    fs.mkdirs(jdst.getParent())
    if not jvm.org.apache.hadoop.fs.FileUtil.copy(
        fs, jsrc, fs, jdst, False, True, fs.getConf()
    ):
        raise IOError(f"partition copy failed: {src} -> {dst}")


def size(spark, path: str) -> int:
    """Length of one file in bytes."""
    local = _local(spark, path)
    if local is not None:
        return os.path.getsize(local)
    _, fs, jpath = _hadoop(spark, path)
    return int(fs.getFileStatus(jpath).getLen())
