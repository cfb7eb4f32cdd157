"""Shared pytest fixtures: one local SparkSession, DuckDB oracle con."""

from __future__ import annotations

import os

import duckdb
import pytest

from clickhousebackup_spark.session import get_spark
from clickhousebackup_spark.tables import TABLES

SF_DIR = os.environ.get("CBS_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cbs-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the fixture tables as views, mirroring the
    driver's pre-registered oracle views (__spark_entry__.py:33-35)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


EVENTS_FIXTURE_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)


def write_events_fixture(spark, tmp_path, rows) -> str:
    """Write a crafted events table (schema-compatible subset) under
    ``tmp_path`` and return the sf_dir it lives in — the shared helper
    the crafted-fixture/property test files use so the 6-column schema
    lives in exactly one place."""
    d = str(tmp_path)
    spark.createDataFrame(rows, EVENTS_FIXTURE_SCHEMA).write.mode(
        "overwrite"
    ).parquet(f"{d}/events.parquet")
    return d


def drop_a_part_file_after_write(monkeypatch, path_suffix: str) -> None:
    """Make every ``DataFrameWriter.parquet`` call whose target path ends
    with ``path_suffix`` lose one part file right after the write — the
    torn artifact a publish-time verify must catch."""
    import glob

    from pyspark.sql.readwriter import DataFrameWriter

    write = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        write(self, path, *args, **kwargs)
        if path.endswith(path_suffix):
            parts = glob.glob(os.path.join(path, "**", "part-*"), recursive=True)
            os.remove(sorted(parts)[0])

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
