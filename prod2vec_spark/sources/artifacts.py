"""S5 binary artifact plane (reference: boto3 ``download_fileobj`` /
``put_object`` for dicts, model tarballs, and PNGs —
/root/reference/pipeline/post_processing/post_process.py:41-53,71-79 and
/root/reference/pipeline/tuning_analysis/plot_helpers.py:53-59,106-112).

The engine routes artifact bytes through the Hadoop FileSystem API of
the active session, so one code path covers ``file://`` in tests and
``s3a://`` / ``hdfs://`` on a cluster — no separate boto3 dependency,
and credentials/endpoint config ride the existing Hadoop conf.  This is
the ARTIFACT plane (small blobs: plots, configs, model tars); tabular
data always goes through parquet (io.py), never through here.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def put_artifact(spark: SparkSession, path: str, data: bytes) -> None:
    """Write ``data`` to ``path`` (any Hadoop-supported scheme),
    overwriting — the reference's ``put_object`` semantics."""
    fs, hpath = _fs_path(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def get_artifact(spark: SparkSession, path: str) -> bytes:
    """Read the full artifact at ``path`` — the reference's
    ``download_fileobj`` semantics.  Artifacts are small by contract
    (plots, model metadata); table-sized data belongs in parquet."""
    fs, hpath = _fs_path(spark, path)
    stream = fs.open(hpath)
    try:
        return bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()


def artifact_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _fs_path(spark, path)
    return bool(fs.exists(hpath))


def list_artifacts(spark: SparkSession, dir_path: str) -> list[str]:
    """Names directly under ``dir_path`` (non-recursive)."""
    fs, hpath = _fs_path(spark, dir_path)
    if not fs.exists(hpath):
        return []
    return sorted(
        st.getPath().getName() for st in fs.listStatus(hpath)
    )


def batch_partials_exist(spark: SparkSession, dir_path: str) -> bool:
    """Whether ``dir_path`` holds a committed ``batch_id=N`` parquet
    partial — the probe the idempotent per-batch sinks' readers run
    before reading.  Goes through the Hadoop FileSystem like every
    artifact here, so a ``file://``, ``s3a://`` or ``hdfs://`` dir is
    probed where it lives instead of as a local path."""
    fs, hpath = _fs_path(spark, f"{dir_path}/batch_id=*/*.parquet")
    hits = fs.globStatus(hpath)
    return hits is not None and len(hits) > 0
