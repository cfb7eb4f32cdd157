"""Snapshot-catalog construction (FIXTURES.md §2 `snapshot_catalog`).

The reference's state is a directory of artifact files; its implicit
schema is `(db, generation, period_key, path, mtime, link_count)`
(SURVEY.md §1.1). We make that catalog an explicit DataFrame, derived
deterministically from the events fixture: each event becomes one
snapshot record.

Scale note: the catalog is pure column arithmetic over one scan — no
shuffle, no UDF; at 100 TB of catalog rows this is a map-only stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhousebackup_spark.backup.config import GENERATIONS


def period_key_expr(ts_col: str, generation_col: str) -> F.Column:
    """The four filename grammars of backup.sh:26-29, switched on the
    generation: %Y%m%d-%H%M%S / %Y%m%d / ISO %G%V / %Y%m."""
    iso_week = F.concat(
        F.expr(f"extract(YEAROFWEEK FROM {ts_col})").cast("string"),
        F.lpad(F.weekofyear(ts_col).cast("string"), 2, "0"),
    )
    g = F.col(generation_col)
    return (
        F.when(g == "last", F.date_format(ts_col, "yyyyMMdd-HHmmss"))
        .when(g == "daily", F.date_format(ts_col, "yyyyMMdd"))
        .when(g == "weekly", iso_week)
        .otherwise(F.date_format(ts_col, "yyyyMM"))
    )


def build_catalog(events: DataFrame, suffix: str = ".zip") -> DataFrame:
    """events → snapshot_catalog (FIXTURES.md §2 derivation).

    db = 'db' || user_id % 3 (the multi-DB loop, backup.sh:24);
    generation from event_id % 4 (backup.sh:21's four dirs);
    path = `<db>-<period_key><suffix>` (backup.sh:26-34);
    content_hash = md5 over identity fields (hardlink analog,
    backup.sh:77-96); size_bytes from value.
    """
    # Built from three parsed selectExpr stages instead of the Column
    # API: expression-identical (canonicalized optimized plan verified
    # equal, tests/test_optimizations_r17.py), but plan-construction
    # wall drops 135 → 42 ms — and build_catalog sits under every
    # backup-family key, so the py4j saving is paid back once per
    # catalog-consuming query per run (guide §1.2 step 2 /
    # OPTIMIZATION_r16 §3's selectExpr lever).
    # suffix is embedded in a parsed expression string — reject anything
    # that could break out of the literal. A raise, not an assert, so
    # the check survives `python -O`.
    if "'" in suffix or "\\" in suffix:
        raise ValueError(f"catalog suffix may not contain ' or \\: {suffix!r}")
    gens = ", ".join(f"'{g}'" for g in GENERATIONS)
    return (
        events.selectExpr(
            "concat('db', cast(pmod(user_id, 3) as string)) AS db",
            f"element_at(array({gens}), "
            f"cast(pmod(event_id, 4) + 1 as int)) AS generation",
            "ts AS snapshot_ts",
            "event_id AS snapshot_id",
            "cast(floor(value * 1000) as long) AS size_bytes",
        )
        .selectExpr(
            "*",
            "CASE WHEN generation = 'last' "
            "THEN date_format(snapshot_ts, 'yyyyMMdd-HHmmss') "
            "WHEN generation = 'daily' "
            "THEN date_format(snapshot_ts, 'yyyyMMdd') "
            "WHEN generation = 'weekly' "
            "THEN concat(cast(extract(YEAROFWEEK FROM snapshot_ts) as string), "
            "lpad(cast(weekofyear(snapshot_ts) as string), 2, '0')) "
            "ELSE date_format(snapshot_ts, 'yyyyMM') END AS period_key",
        )
        .selectExpr(
            "db",
            "generation",
            "period_key",
            "snapshot_ts",
            "snapshot_id",
            f"concat(db, '-', period_key, '{suffix}') AS path",
            "md5(concat_ws('|', db, generation, period_key, snapshot_id)) "
            "AS content_hash",
            "size_bytes",
        )
    )


#: DuckDB mirror of build_catalog, used to assemble oracle SQL strings.
CATALOG_ORACLE_CTE = """
    catalog AS (
        SELECT
            concat('db', CAST(user_id % 3 AS VARCHAR)) AS db,
            CASE CAST(event_id % 4 AS INTEGER)
                WHEN 0 THEN 'last' WHEN 1 THEN 'daily'
                WHEN 2 THEN 'weekly' ELSE 'monthly' END AS generation,
            ts AS snapshot_ts,
            event_id AS snapshot_id,
            CAST(floor(value * 1000) AS BIGINT) AS size_bytes,
            CASE CAST(event_id % 4 AS INTEGER)
                WHEN 0 THEN strftime(ts, '%Y%m%d-%H%M%S')
                WHEN 1 THEN strftime(ts, '%Y%m%d')
                WHEN 2 THEN concat(CAST(isoyear(ts) AS VARCHAR),
                                   lpad(CAST(week(ts) AS VARCHAR), 2, '0'))
                ELSE strftime(ts, '%Y%m') END AS period_key
        FROM events
    ),
    catalog_full AS (
        SELECT db, generation, period_key, snapshot_ts, snapshot_id,
               concat(db, '-', period_key, '.zip') AS path,
               md5(concat_ws('|', db, generation, period_key,
                             CAST(snapshot_id AS VARCHAR))) AS content_hash,
               size_bytes
        FROM catalog
    )
"""
