"""Filesystem shim for store metadata: Hadoop FileSystem API, not os.*.

The incremental stores (z-order store in :mod:`lindel_spark.write`,
aggregate store in :mod:`lindel_spark.streaming`) keep a tiny metadata
layer next to their parquet data: an append-only ``_commits/`` version
log, directory listings to find versions, byte-sizing to decide
when to compact, and pruning of stale versions. Driver-local
``os.path`` / ``open`` / ``shutil`` only work where the driver mounts
the same POSIX filesystem as the executors — on a real cluster the
store lives on S3/HDFS/ABFS and every one of those calls breaks.

This module routes all of that through the JVM's
``org.apache.hadoop.fs.FileSystem`` (the same abstraction Spark's own
committers use), resolved per-path by scheme, so ``file://``, bare
POSIX paths, ``hdfs://`` and ``s3a://`` all behave: the driver talks
to the object store through the connector that is already on Spark's
classpath. Plain POSIX paths go through Hadoop's LocalFileSystem —
same code path, no special case to drift.

Commit semantics (round 9): stores record progress in an APPEND-ONLY
version log — one ``_commits/v{N}`` file per committed version,
``latest = max(N)`` over the listing. :func:`commit_new` writes a tmp
file and renames it to a name that has NEVER existed, so no committed
object is ever rewritten or deleted: there is no torn-marker window by
construction (the failure mode of a mutable ``_LATEST`` marker, whose
delete-before-rename left a no-marker gap — round-8 ADVICE). HDFS
rename-to-fresh-name is atomic; on S3A it is one PUT of the final key
plus a delete of the tmp key — a reader either sees the committed
version or does not see it yet, never a half state.

Multi-writer: :func:`commit_new` REFUSES an already-committed version,
so two maintainers racing on the same version fail loudly instead of
silently clobbering each other. True concurrent maintenance still
needs a log-structured table format (Delta/Iceberg), documented on the
store functions.
"""

from __future__ import annotations

from typing import Iterator


def join(path: str, *names: str) -> str:
    """Join store-relative names onto ``path`` without os.path (which
    mangles URI schemes on some platforms): plain '/' joining works
    for POSIX paths and every Hadoop URI alike."""
    out = path.rstrip("/")
    for n in names:
        out = out + "/" + n.strip("/")
    return out


def _fs_path(spark, path: str):
    """(FileSystem, Path) for ``path``, resolved by its scheme against
    the session's Hadoop configuration."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsc.hadoopConfiguration()
    return jpath.getFileSystem(conf), jpath


def exists(spark, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def is_dir(spark, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p)) and bool(fs.getFileStatus(p).isDirectory())


def read_text(spark, path: str) -> str:
    """Whole small-file read (markers are one line; never data files)."""
    fs, p = _fs_path(spark, path)
    jvm = spark._jvm
    stream = fs.open(p)
    try:
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8"))
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line)
            line = reader.readLine()
        return "\n".join(lines)
    finally:
        stream.close()


def commit_new(spark, path: str, data: str | bytes = "") -> None:
    """Commit a small APPEND-ONLY file holding ``data`` (``str`` is
    written as UTF-8; ``bytes`` as they are, e.g. a serialized Parquet
    manifest part): write a PER-WRITER tmp file
    (``<path>.<uuid>.tmp`` — two racers never share a staging name, so
    one can never publish the other's payload, and a ``.parquet``
    lister never sees a torn part), then rename to
    ``path``, which must NOT already exist. Because the destination
    name is fresh, nothing committed is ever rewritten or deleted —
    there is no delete-before-rename window (see module docstring).
    Raises if ``path`` already exists: the version was committed by
    another writer, and proceeding would clobber it.

    The duplicate-version refusal is BEST-EFFORT on filesystems whose
    rename overwrites an existing destination (POSIX renameTo under
    LocalFileSystem, S3A PUT): the exists-check + unique tmp close the
    payload-mixing hole, but two writers racing inside the
    check-to-rename window can still last-write-win on such stores —
    HDFS rename fails on an existing destination and is fully safe.
    True concurrent maintenance needs a log-structured table format
    (documented on the store functions)."""
    import uuid

    fs, p = _fs_path(spark, path)
    if fs.exists(p):
        raise IOError(
            f"LINDEL: version already committed (concurrent writer?): "
            f"{path}")
    tmp = spark._jvm.org.apache.hadoop.fs.Path(
        f"{path}.{uuid.uuid4().hex}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data, "utf-8") if isinstance(data, str)
                  else bytearray(data))
    finally:
        out.close()
    if fs.exists(p):
        fs.delete(tmp, False)
        raise IOError(
            f"LINDEL: version committed by a concurrent writer during "
            f"staging: {path}")
    if not fs.rename(tmp, p):
        raise IOError(f"LINDEL: commit rename failed: {path}")


def committed_versions(spark, commits_dir: str,
                       prefix: str = "v") -> list[int]:
    """Sorted version numbers from an append-only commit log directory:
    every ``{prefix}{N}`` entry (``.tmp`` leftovers of crashed commits
    ignored). The store's source of truth for both "latest" (max) and
    "last applied" — a crash can at worst leave a ``.tmp`` orphan,
    never a store with no readable version."""
    out = []
    for n in list_names(spark, commits_dir):
        if not n.startswith(prefix) or n.endswith(".tmp"):
            continue
        try:
            out.append(int(n[len(prefix):]))
        except ValueError:
            continue
    return sorted(out)


def list_names(spark, path: str) -> list[str]:
    """Child entry names of a directory ([] when it doesn't exist)."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def _iter_files(spark, path: str) -> Iterator:
    """Recursive FileStatus iterator (empty when path is absent)."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return
    it = fs.listFiles(p, True)
    while it.hasNext():
        yield it.next()


def list_files(spark, path: str, suffix: str = ".parquet") -> list[str]:
    """Full URIs of files under ``path`` (recursive) ending in
    ``suffix`` — the snapshot primitive for compact-then-delete."""
    return [
        str(st.getPath().toString())
        for st in _iter_files(spark, path)
        if str(st.getPath().getName()).endswith(suffix)
    ]


def du_suffix(spark, path: str, suffix: str = ".parquet"
              ) -> tuple[int, int]:
    """(total_bytes, file_count) of ``suffix`` files under ``path``.
    Metadata-only: one recursive listing, no data reads — on S3A this
    is a LIST call per 1000 keys, not a GET per object."""
    total = 0
    count = 0
    for st in _iter_files(spark, path):
        if str(st.getPath().getName()).endswith(suffix):
            total += int(st.getLen())
            count += 1
    return total, count


def delete(spark, path: str, recursive: bool = True) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.delete(p, recursive))
