"""Driver-side filesystem primitives for the persisted-index stores
(CURRENT pointers, footer manifests, base-partition discovery) and the
warehouse (table existence, schema records, backfill's partition
drop), dispatching on the path form:

- **Plain local paths** (no scheme) take the exact ``os``/``glob``
  code the stores have always used — fast, zero JVM round-trips, and
  byte-identical behavior for the test/bench environment.
- **URIs** (``file:``, ``hdfs://``, ``s3a://``, ...) route through the
  Hadoop FileSystem API via the active session's JVM gateway, so the
  probe-cache base discovery, the dedup manifests, and the generation
  pointer protocol ENGAGE on cluster filesystems instead of silently
  falling back to unpruned scans (the r9/r10 documented trade; this is
  the mechanical port that deletes it). ``file:`` URIs exercise the
  same Hadoop code path against the local disk, which is how the unit
  tests cover the cluster branch end to end.

Atomicity note: ``write_text_atomic`` is write-temp-then-rename.
POSIX rename replaces atomically; the URI branch first tries
``FileContext.rename(..., Rename.OVERWRITE)`` (atomic on HDFS and the
local AbstractFs) and only falls back to delete-then-rename where no
FileContext binding exists (raw object stores, which have no atomic
rename at all). That fallback's crash window can leave only the
``.tmp`` behind — the temp always holds the COMPLETE new content, so
``_writes.resolve_current`` recovers by falling FORWARD to it rather
than regressing to the flat root (review r11).

These helpers are DRIVER-side metadata I/O: a handful of calls per
save/probe, never per row — py4j latency (~ms) is irrelevant next to
any Spark action they gate.
"""

from __future__ import annotations

import os
import shutil


def is_uri(path: str) -> bool:
    """True for scheme'd paths (``file:``, ``hdfs://``, ``s3a://``...)
    that must go through the Hadoop FileSystem API."""
    return "://" in path or path.startswith("file:")


def _session():
    """The driver's SparkSession for JVM gateway access.
    ``getActiveSession()`` is a thread-local and is UNSET on fresh
    py4j callback threads (foreachBatch bodies under pinned-thread
    mode — exactly the streaming cluster path this module serves), so
    fall back to the process-wide default session the classic PySpark
    ``getOrCreate`` maintains (review r11)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        spark = getattr(SparkSession, "_instantiatedSession", None)
    if spark is None:
        raise RuntimeError(
            "no SparkSession in this process to resolve a filesystem"
        )
    return spark


def _hfs(path: str):
    """(jvm, FileSystem, Path) for a URI via the driver's session."""
    spark = _session()
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return jvm, fs, p


def normalize(path: str) -> str:
    """Hadoop-normalized form of a URI (``file:///x`` → ``file:/x``),
    so listings (which return normalized paths) and caller-supplied
    roots compare/relativize consistently. Identity for local paths."""
    if not is_uri(path):
        return path
    jvm, _, p = _hfs(path)
    return p.toString()


def exists(path: str) -> bool:
    if not is_uri(path):
        return os.path.exists(path)
    _, fs, p = _hfs(path)
    return bool(fs.exists(p))


def is_dir(path: str) -> bool:
    if not is_uri(path):
        return os.path.isdir(path)
    _, fs, p = _hfs(path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def read_text(path: str) -> str:
    if not is_uri(path):
        with open(path) as f:
            return f.read()
    jvm, fs, p = _hfs(path)
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, jvm.java.nio.charset.StandardCharsets.UTF_8
        )
    finally:
        stream.close()


def write_text_atomic(path: str, text: str) -> None:
    """Write ``path`` via a same-directory ``.tmp`` file + rename.

    Local paths: ``os.replace`` (POSIX-atomic). URIs: the fully
    written temp is renamed with ``FileContext.rename(...,
    Rename.OVERWRITE)`` — atomic on HDFS and the local AbstractFs.
    Filesystems with no FileContext binding (e.g. raw s3a) fall back
    to delete-then-rename, whose crash window can leave only the
    ``.tmp`` behind; callers that need recovery semantics read the
    ``.tmp`` as the fallback (see ``_writes.resolve_current`` — the
    temp holds the COMPLETE new content, so recovering from it is
    always forward, never torn). Missing parent directories are
    created on both branches (Hadoop's ``create`` does so itself)."""
    if not is_uri(path):
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)
        return
    jvm, fs, p = _hfs(path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    try:
        spark = _session()
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            p.toUri(), spark.sparkContext._jsc.hadoopConfiguration()
        )
        rename_cls = jvm.org.apache.hadoop.fs.Options.Rename
        opts = spark.sparkContext._gateway.new_array(rename_cls, 1)
        opts[0] = rename_cls.OVERWRITE
        fc.rename(tmp, p, opts)
        return
    except Exception as exc:
        # Fall back ONLY when the scheme has no FileContext binding
        # (UnsupportedFileSystemException from getFileContext — raw
        # object stores). Any OTHER failure (transient HDFS error,
        # permissions) must propagate: swallowing it would silently
        # downgrade an atomic pointer swap to the torn-window
        # delete-then-rename path on filesystems that DO support
        # atomic rename (review r12).
        if not _is_unsupported_fs(exc):
            raise
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(tmp, p):
        raise IOError(f"rename {path}.tmp -> {path} failed")


def _is_unsupported_fs(exc: Exception) -> bool:
    """True when a py4j error wraps Hadoop's
    ``UnsupportedFileSystemException`` (no AbstractFileSystem binding
    for the scheme) — the one failure ``write_text_atomic`` is allowed
    to downgrade to delete-then-rename on."""
    try:
        from py4j.protocol import Py4JJavaError
    except Exception:  # pragma: no cover — py4j always ships with pyspark
        return "UnsupportedFileSystemException" in str(exc)
    if not isinstance(exc, Py4JJavaError):
        return False
    return "UnsupportedFileSystemException" in str(exc)


def remove(path: str) -> None:
    """Delete a file or a whole directory tree; a missing path is a
    no-op."""
    if not is_uri(path):
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)
        return
    _, fs, p = _hfs(path)
    if fs.exists(p):
        fs.delete(p, True)


def child_dirs(path: str) -> "list[str]":
    """Immediate subdirectories (full paths); [] if path is absent."""
    if not is_uri(path):
        if not os.path.isdir(path):
            return []
        return sorted(
            os.path.join(path, d)
            for d in os.listdir(path)
            if os.path.isdir(os.path.join(path, d))
        )
    _, fs, p = _hfs(path)
    if not fs.exists(p):
        return []
    return sorted(
        st.getPath().toString()
        for st in fs.listStatus(p)
        if st.isDirectory()
    )


def list_files_recursive(path: str, suffix: str) -> "list[str]":
    """Every file under ``path`` (recursive) ending in ``suffix``;
    [] if path is absent."""
    return sorted(file_sizes(path, suffix))


def file_sizes(path: str, suffix: str) -> "dict[str, int]":
    """{file: bytes} for every file under ``path`` (recursive) ending
    in ``suffix``; {} if path is absent. On a URI the sizes come from
    the listing's own ``FileStatus``, so no file is stat'ed twice."""
    if not is_uri(path):
        import glob

        return {
            f: os.path.getsize(f)
            for f in glob.glob(
                os.path.join(path, "**", f"*{suffix}"), recursive=True
            )
        }
    _, fs, p = _hfs(path)
    if not fs.exists(p):
        return {}
    out = {}
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        f = st.getPath().toString()
        if f.endswith(suffix):
            out[f] = int(st.getLen())
    return out
