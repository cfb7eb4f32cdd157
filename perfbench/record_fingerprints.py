"""Record the expected result fingerprints into ``fingerprints.json``.

    python3 perfbench/record_fingerprints.py

On the data set both workloads read (``run.DATA_DIR``), computes the (rows, xxhash-max,
xxhash-xor) fingerprint of every headline key and of every table
``backup_cycle`` snapshots, and cross-checks each headline key once
against its DuckDB oracle SQL with the project's result comparator
(``tests/compare.py``): a key whose engine result differs from the
oracle's fails the script, which then writes nothing.  Re-run only when
the data set changes; the benchmark itself never writes the file.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

from clickhousebackup_spark.registry import all_specs  # noqa: E402
from clickhousebackup_spark.session import get_spark  # noqa: E402
from clickhousebackup_spark.tables import TABLES, load_table  # noqa: E402
from probe import fingerprint_df, row_fingerprint  # noqa: E402
from run import DATA_DIR  # noqa: E402
from tests.compare import assert_same_result  # noqa: E402
from workloads import BACKUP_TABLES, HEADLINE  # noqa: E402


def main() -> int:
    spark = get_spark("perfbench-record")
    specs = all_specs()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{DATA_DIR}/{t}.parquet')")
    rec, bad = {}, []
    for key in HEADLINE:
        df = specs[key].fn(spark, DATA_DIR)
        rec[key] = row_fingerprint(fingerprint_df(df).collect()[0])
        if specs[key].oracle is not None:
            try:
                assert_same_result(df, con, specs[key].oracle, key)
            except AssertionError as exc:
                bad.append(f"{key}: {exc}")
                continue
        print(f"{key}: {rec[key]} oracle="
              f"{'match' if specs[key].oracle else 'none'}", flush=True)
    for t in (t for names in BACKUP_TABLES.values() for t in names):
        rec[t] = row_fingerprint(
            fingerprint_df(load_table(spark, DATA_DIR, t)).collect()[0])
    con.close()
    spark.stop()
    for line in bad:
        print(f"ORACLE MISMATCH {line}", file=sys.stderr)
    if bad:
        return 1
    with open(os.path.join(HERE, "fingerprints.json"), "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
