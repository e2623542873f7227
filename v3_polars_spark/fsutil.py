"""Filesystem helpers that resolve paths through Spark's Hadoop
FileSystem API instead of ``os.path``.

``os.path.exists`` / ``os.listdir`` silently return False / raise for
``hdfs://`` and ``s3a://`` URIs — exactly the deployments where a
driver-local check would let a layout guard no-op or a cache marker go
unseen. Routing through ``Path.getFileSystem(hadoopConf)`` makes the
same code correct for local paths (RawLocalFileSystem) and for every
remote scheme whose connector is on the classpath.

No counterpart in the reference repo (its state cache is
driver-local polars, reference v3/state.py:114-174); this exists because
a Spark engine's save/state paths are legitimately remote.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs_and_path(spark, path)
    return bool(fs.exists(jpath))


def _child_names(spark: SparkSession, path: str, files: bool) -> list[str]:
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    return [
        st.getPath().getName()
        for st in fs.listStatus(jpath)
        if st.isFile() == files
    ]


def list_file_names(spark: SparkSession, path: str) -> list[str]:
    """Names of the direct FILE children of ``path`` (directories are
    skipped); empty list when the path does not exist."""
    return _child_names(spark, path, files=True)


def list_dir_names(spark: SparkSession, path: str) -> list[str]:
    """Names of the direct DIRECTORY children of ``path``; empty list when
    the path does not exist."""
    return _child_names(spark, path, files=False)


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst``; raises where Hadoop's rename reports
    failure by returning False."""
    fs, jsrc = _fs_and_path(spark, src)
    if not fs.rename(jsrc, spark._jvm.org.apache.hadoop.fs.Path(dst)):
        raise IOError(f"rename failed: {src} -> {dst}")


def delete(spark: SparkSession, path: str) -> None:
    """Recursive delete; a no-op when ``path`` does not exist."""
    fs, jpath = _fs_and_path(spark, path)
    fs.delete(jpath, True)


def dir_fingerprint(spark: SparkSession, path: str) -> str:
    """Cheap content fingerprint of a table directory: sha256 over the
    sorted (relative name, length, mtime) of every data file under
    ``path`` (recursive, so hive-partitioned layouts are covered;
    _SUCCESS/.crc bookkeeping excluded). A pure metadata listing — no
    data scan — so validating a saved-frame cache against its source
    costs one listFiles RPC instead of re-reading the raw table."""
    import hashlib

    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return "absent"
    entries = []
    it = fs.listFiles(jpath, True)
    prefix = str(fs.makeQualified(jpath))
    while it.hasNext():
        st = it.next()
        name = str(st.getPath())
        if name.startswith(prefix):
            name = name[len(prefix):]
        # skip bookkeeping files AND anything under a hidden/temp
        # directory (.spark-staging-*, _temporary, ...): a concurrent
        # writer's staging files must not perturb the fingerprint of the
        # committed file set
        if any(
            seg.startswith(("_", "."))
            for seg in name.split("/")
            if seg
        ):
            continue
        entries.append(f"{name}:{st.getLen()}:{st.getModificationTime()}")
    entries.sort()
    return hashlib.sha256("\n".join(entries).encode()).hexdigest()


def read_text(spark: SparkSession, path: str) -> str | None:
    """Small-file text read (markers / fingerprints), None if absent."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        out = bytearray()
        while True:
            b = stream.read()
            if b < 0:
                break
            out.append(b)
        return out.decode("utf-8")
    finally:
        stream.close()


def write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Marker write that can never be observed torn: write to a hidden
    temp sibling, then delete+rename into place. The delete/rename pair
    is not one atomic op across filesystems, but every intermediate
    state reads as *absent marker* (= stale cache), never as a
    half-written marker — which is the property cache-validity markers
    need. The temp name is dot-prefixed so directory fingerprints and
    Spark's file index skip it."""
    fs, jpath = _fs_and_path(spark, path)
    tmp = jpath.getParent().suffix("/." + jpath.getName() + ".tmp")
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()
    if fs.exists(jpath):
        fs.delete(jpath, False)
    if not fs.rename(tmp, jpath):
        fs.delete(tmp, False)
        raise IOError(f"atomic marker rename failed for {path}")
