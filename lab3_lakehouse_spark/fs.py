"""Every tier and store path operation goes through the Hadoop
FileSystem serving the path's URI scheme, so bare local paths and
``file://``, ``hdfs://``, ``s3a://`` roots answer alike. Classic (py4j)
sessions only: :func:`handle` raises a diagnostic on Spark Connect."""

from __future__ import annotations

from pyspark.sql import SparkSession


def handle(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path``."""
    jvm = getattr(spark, "_jvm", None)
    if jvm is None:
        raise RuntimeError(
            "Hadoop FileSystem operations need a classic (py4j) "
            "SparkSession: Spark Connect has no JVM handle"
        )
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = handle(spark, path)
    return bool(fs.exists(p))


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, p = handle(spark, path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Move ``src`` to ``dst``; raises ``FileExistsError`` (nothing
    moved) if ``dst`` exists, ``OSError`` if the FileSystem reports
    failure. Hadoop's own rename returns ``False`` on HDFS and moves a
    directory *into* an existing one on the local FS."""
    fs, s = handle(spark, src)
    _, d = handle(spark, dst)
    if fs.exists(d):
        raise FileExistsError(f"cannot rename {src} onto existing {dst}")
    if not fs.rename(s, d):
        raise OSError(f"FileSystem.rename({src}, {dst}) failed")


def swap(spark: SparkSession, live: str, new: str) -> str:
    """Put the directory ``new`` in place of ``live`` by two
    :func:`rename` calls, neither of which overwrites::

        (1) live → live + ".retired"
        (2) new  → live

    Returns the retired path; the caller deletes it. No state loses
    data: a crash between (1) and (2) leaves ``{live}.retired`` and
    ``new`` intact (recovery: rename either back into place), and (2)
    failing renames (1) back before re-raising, so ``live`` is never
    left missing. Refuses before any rename if a previous swap's
    retired path is still present (stacking retired copies is how data
    loss hides) or if ``new`` is no directory."""
    retired = live.rstrip("/") + ".retired"
    if exists(spark, retired):
        raise FileExistsError(
            f"{retired} exists — finish (delete) or recover the previous "
            "swap before running another"
        )
    if not is_dir(spark, new):
        raise FileNotFoundError(f"{new} is not a directory")
    rename(spark, live, retired)
    try:
        rename(spark, new, live)
    except Exception:
        rename(spark, retired, live)  # rollback: never a half-swap
        raise
    return retired


def delete(spark: SparkSession, path: str) -> None:
    """Remove ``path`` and everything under it; a missing path is a
    no-op. Raises ``OSError`` if the FileSystem reports failure and the
    path is still there."""
    fs, p = handle(spark, path)
    if not fs.delete(p, True) and fs.exists(p):
        raise OSError(f"FileSystem.delete({path}) failed")


def list_files(spark: SparkSession, root: str) -> dict[str, tuple[int, int]]:
    """Every file under ``root``, recursively: path string → (length in
    bytes, modification time in ms), from the listing's FileStatus."""
    fs, p = handle(spark, root)
    it, out = fs.listFiles(p, True), {}
    while it.hasNext():
        st = it.next()
        out[st.getPath().toString()] = (st.getLen(), st.getModificationTime())
    return out


def read_text(spark: SparkSession, path: str) -> str | None:
    """Content of the small file at ``path``, or None if it is absent."""
    fs, p = handle(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes()).decode()
    finally:
        stream.close()


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Publish ``text`` at ``path``: write a temp file, delete the old
    file, rename the temp file into place — a reader sees the old
    content, no file, or the new content, never a partial write."""
    tmp = f"{path}.tmp"
    fs, t = handle(spark, tmp)
    out = fs.create(t, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()
    fs.delete(handle(spark, path)[1], False)
    rename(spark, tmp, path)
