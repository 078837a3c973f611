"""Output sinks (SURVEY.md §2.F write side).

The reference's sinks are Supabase row inserts; ours are columnar table
writes. The two scale problems writers own: file sizing (too many small
files kill the next reader's scan planning; too few kill parallelism) and
partition layout (time/tenant partition columns so downstream reads prune).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: tuple[str, ...] = (),
    target_files: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Write a table with explicit file sizing.

    ``target_files`` coalesces (no shuffle) when reducing, repartitions
    when increasing. With ``partition_by``, repartition ON the partition
    columns first so each output directory gets few large files instead of
    one file per (task × partition) combination — the classic small-file
    explosion.
    """
    out = df
    if partition_by:
        cols = list(partition_by)
        out = df.repartition(*cols) if target_files is None \
            else df.repartition(target_files, *cols)
    elif target_files is not None:
        n = df.rdd.getNumPartitions()
        out = df.coalesce(target_files) if target_files < n \
            else df.repartition(target_files)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    getattr(writer, fmt)(path)


def compact_table(
    spark, path: str, target_files: int = 4, fmt: str = "parquet",
) -> int:
    """Rewrite a (small-file-fragmented) table into ``target_files`` files.
    Returns the number of rows rewritten. For append-heavy state tables
    (StateStore) run periodically, like the reference's retention job."""
    import os
    import shutil

    df = getattr(spark.read, fmt)(path)
    rows = df.count()
    tmp = path.rstrip("/") + "._compact"
    getattr(df.repartition(target_files).write.mode("overwrite"), fmt)(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return rows


def write_text_file(spark, path: str, text: str) -> None:
    """Write a small sidecar file (tokenizer model, manifest JSON) through
    the Hadoop FileSystem API — works on every root Spark itself can write
    (local, HDFS, s3a://, gs://), unlike a Python ``open()`` which only
    understands the local filesystem. One stream create + write + close;
    overwrite semantics (sidecars are whole-file replaced, never appended).
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_text_file(spark, path: str) -> str:
    """Sidecar read-back counterpart of ``write_text_file`` (same roots)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    stream = fs.open(hpath)
    try:
        # IOUtils drains the stream fully regardless of file size
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data).decode("utf-8")
