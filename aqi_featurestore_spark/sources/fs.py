"""Driver-side filesystem metadata ops via the Hadoop FileSystem API.

The engine's stores do a handful of driver-side metadata operations
(existence probes before dedup gates, tmp-dir cleanup after snapshot
swaps). `os.path` only understands the local filesystem; on `s3a://` or
`gs://` paths it silently answers False and the logic that depends on it
(e.g. the anti-join dedup gate in OfflineStore.append) degrades without
an error. Going through Hadoop's FileSystem — the same abstraction the
executors' parquet I/O uses — makes these probes correct on every scheme
Spark itself can read.
"""

from __future__ import annotations

from functools import reduce

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

#: name -> (gateway client, JVM class handle)
_CLASSES: dict[str, tuple] = {}


def _jclass(spark: SparkSession, name: str):
    """The JVM class ``name``, resolved once per gateway: a dotted lookup
    through ``spark._jvm`` costs a Py4J round trip per segment (about
    2 ms for ``org.apache.hadoop.fs.Path``), more than the call it makes."""
    client = spark._jvm._gateway_client
    hit = _CLASSES.get(name)
    if hit is None or hit[0] is not client:
        hit = _CLASSES[name] = (client, reduce(getattr, name.split("."), spark._jvm))
    return hit[1]


def _path(spark: SparkSession, path: str):
    return _jclass(spark, "org.apache.hadoop.fs.Path")(path)


def _fs_and_path(spark: SparkSession, path: str):
    jpath = _path(spark, path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs_and_path(spark, path)
    return bool(fs.exists(jpath))


def _missing(spark: SparkSession, err: Exception) -> bool:
    """Whether a Py4J error is Java's ``FileNotFoundException``: asking
    for the file and catching its absence is one metadata RPC, where an
    ``exists`` probe first is two."""
    java = getattr(err, "java_exception", None)
    return java is not None and bool(
        _jclass(spark, "java.io.FileNotFoundException")._java_lang_class.isInstance(java)
    )


def child_names(spark: SparkSession, path: str) -> list[str]:
    """Names of direct children of ``path`` (empty if it doesn't exist)."""
    fs, jpath = _fs_and_path(spark, path)
    try:
        return [st.getPath().getName() for st in fs.listStatus(jpath)]
    except Py4JJavaError as e:
        if _missing(spark, e):
            return []
        raise


def delete(spark: SparkSession, *paths: str) -> None:
    """Recursive delete of each path; no-op for an absent one (Hadoop's
    delete answers False)."""
    for path in paths:
        fs, jpath = _fs_and_path(spark, path)
        fs.delete(jpath, True)


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Directory rename. Atomic on HDFS/POSIX; on object stores it is a
    copy+delete — callers must treat the swap window as non-atomic."""
    fs, jsrc = _fs_and_path(spark, src)
    jdst = _path(spark, dst)
    return bool(fs.rename(jsrc, jdst))


def _create(fs, jpath, text: str) -> None:
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create/overwrite a small text file (manifests, markers) through
    the same FileSystem abstraction as the data I/O — works on every
    scheme the store accepts, unlike driver-local ``open()``."""
    _create(*_fs_and_path(spark, path), text)


def write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file via tmp + rename so a reader (or a crash)
    never observes a torn/truncated file — the round-9 ADVICE fix for
    manifest/floor writes, where a half-written JSON made every
    subsequent ``retention_floor()``/``read(as_of)`` raise
    ``JSONDecodeError``.

    Overwrites rename OVER the existing destination through
    ``FileContext`` with ``Options.Rename.OVERWRITE`` (POSIX/HDFS
    semantics: the destination atomically flips old→new, a concurrent
    reader never observes it MISSING — the round-10 ADVICE fix for the
    delete-then-rename window, where a ``retention_floor()`` read
    racing a floor rewrite transiently defaulted to 0 and could admit
    an as-of pin below the real floor). Where ``FileContext`` is
    unsupported (some object-store connectors expose only the
    ``FileSystem`` API) the fallback is delete-then-rename — on those
    stores rename is copy+delete anyway, so no atomicity is lost that
    the store could have provided; the failure window is a briefly
    missing destination, never a torn one (callers read-with-default,
    and SnapshotManifests.retention_floor retries when it can see a
    rewrite in flight). Concurrent writers of the SAME path remain a
    single-writer contract (see SnapshotManifests)."""
    import uuid

    fs, jpath = _fs_and_path(spark, path)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    jtmp = _path(spark, tmp)
    _create(fs, jtmp, text)
    try:
        fc = _jclass(spark, "org.apache.hadoop.fs.FileContext").getFileContext(
            jpath.toUri(), spark._jsc.hadoopConfiguration()
        )
        arr = spark.sparkContext._gateway.new_array(
            _jclass(spark, "org.apache.hadoop.fs.Options.Rename"), 1
        )
        arr[0] = _jclass(spark, "org.apache.hadoop.fs.Options.Rename").OVERWRITE
        fc.rename(jtmp, jpath, arr)  # void: throws on failure
        return
    except Exception:
        # UnsupportedFileSystemException (no AbstractFileSystem for the
        # scheme) or any FileContext failure: fall through to the
        # FileSystem-API path rather than leave the tmp stranded.
        if not fs.exists(jtmp):
            # rename is all-or-nothing: tmp gone + dst present means the
            # rename took effect before the exception surfaced
            if fs.exists(jpath):
                return
            raise
    if fs.exists(jpath):
        fs.delete(jpath, False)
    if not fs.rename(jtmp, jpath):
        raise IOError(f"write_text_atomic: rename {tmp} -> {path} failed")


def _read(spark: SparkSession, fs, jpath) -> str:
    stream = fs.open(jpath)
    try:
        return _jclass(spark, "org.apache.commons.io.IOUtils").toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def read_text(spark: SparkSession, path: str) -> str:
    return _read(spark, *_fs_and_path(spark, path))


def read_text_or_none(spark: SparkSession, path: str) -> str | None:
    """:func:`read_text`, or None when ``path`` does not exist — one
    open, no ``exists`` probe first (store records and pointers are read
    on every operation)."""
    try:
        return _read(spark, *_fs_and_path(spark, path))
    except Py4JJavaError as e:
        if _missing(spark, e):
            return None
        raise


def _data_file_statuses(spark: SparkSession, path: str):
    """Recursive ``FileStatus`` listing of the data files under ``path``
    (or of ``path`` itself if it is a file), skipping hidden and commit
    markers (_SUCCESS, ._*, .crc). A missing path lists nothing: one
    listing RPC, no ``exists`` probe first."""
    fs, jpath = _fs_and_path(spark, path)
    try:
        it = fs.listFiles(jpath, True)
        more = it.hasNext()
    except Py4JJavaError as e:
        if _missing(spark, e):
            return
        raise
    while more:
        st = it.next()
        name = st.getPath().getName()
        if not (name.startswith("_") or name.startswith(".")):
            yield st
        more = it.hasNext()


def list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Recursive (path, size) listing of data files under ``path``.
    Driver-side metadata only — one RPC stream, no data read;
    cardinality is file count, not row count."""
    return [
        (st.getPath().toString(), int(st.getLen()))
        for st in _data_file_statuses(spark, path)
    ]


def list_file_stats(spark: SparkSession, path: str) -> list[tuple[str, int, int]]:
    """Recursive (path, size, mtime_ms) listing of data files — the
    fingerprint input for session caches (plans/_base.py
    corpus_fingerprint, the testdata schema memo). Same traversal as
    :func:`list_data_files`, plus modification time so a same-size
    rewrite still changes the fingerprint."""
    return [
        (st.getPath().toString(), int(st.getLen()), int(st.getModificationTime()))
        for st in _data_file_statuses(spark, path)
    ]
