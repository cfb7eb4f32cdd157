"""Snapshot write/verify/publish (A10/A11/A13).

The reference's one real operation — `BACKUP DATABASE … TO Disk(...)`
(`backup.sh:38-45`) followed by an existence check and an atomic move
into `last/` (`backup.sh:47-52`) — re-expressed as:

    write parquet to a staging path → reread and verify → rename to
    the final ts-named immutable path (staged-atomic publish, the
    `*-new` dir dance of backup.sh:67-89).

Plain-filesystem renames of a directory are atomic on POSIX; on object
stores you'd swap this for a table-format commit (out of scope per
SURVEY.md §4.3).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class SnapshotResult:
    db: str
    table: str
    period_key: str
    path: str
    n_rows: int


def snapshot_table(
    df: DataFrame,
    base_dir: str,
    db: str,
    table: str,
    period_key: str,
    partition_by: list[str] | None = None,
) -> SnapshotResult:
    """Write one immutable snapshot with staged-atomic publish.

    Job budget: at most 3 Spark jobs, all in ``write_verified``.
    """
    final = os.path.join(base_dir, db, f"{table}-{period_key}")
    staging = final + "-new"  # the `*-new` staging suffix, backup.sh:68-70
    n = write_verified(
        df, staging, f"snapshot {db}.{table}-{period_key}", partition_by
    )
    if os.path.exists(final):  # backup.sh:80: replace existing period artifact
        shutil.rmtree(final)
    os.rename(staging, final)
    return SnapshotResult(db=db, table=table, period_key=period_key, path=final, n_rows=n)


def write_verified(
    df: DataFrame, path: str, what: str, partition_by: list[str] | None = None
) -> int:
    """Write ``df`` as parquet to a fresh ``path`` and verify it before
    anything publishes it (A11): the reread must hold as many rows as
    the write did, or ``path`` is removed and ``RuntimeError`` raised.
    This is the reference's `[ ! -f … ] && exit 1` strengthened from
    existence to cardinality; it catches e.g. a lost part file.

    Returns the row count. Job budget: at most 3 Spark jobs — the write
    (1), which also counts its rows through an ``Observation`` instead
    of a separate ``df.count()`` scan, and the reread's count (2: scan
    stage + final agg). The reread is given ``df.schema``, so no parquet
    schema-inference job runs.
    """
    if os.path.exists(path):
        shutil.rmtree(path)
    written = Observation()
    writer = df.observe(written, F.count(F.lit(1)).alias("n")).write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    expected = written.get["n"]
    n = df.sparkSession.read.schema(df.schema).parquet(path).count()
    if n != expected:
        shutil.rmtree(path, ignore_errors=True)
        raise RuntimeError(
            f"{what} verify failed: staged artifact has {n} rows, "
            f"{expected} were written"
        )
    return n


def read_snapshot(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
