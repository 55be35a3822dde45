"""Smoke and correctness check of this checkout's ``__spark_entry__.py``:
``entry(spark)`` must return rows, and every query in ``queries()``
must match its ``oracle_sql()`` query run in DuckDB over the same
parquet (default sf_dir: sf0.01).

Usage: python scripts/drive_entry.py [sf_dir]
"""

from __future__ import annotations

import importlib.util
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

from oarphpy_spark.testing.parity import compare, duckdb_connection  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", f"{REPO}/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.driver.memory", os.environ.get("PARITY_DRIVER_MEM", "8g"))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    rows = mod.entry(spark).collect()
    print(f"T1 SMOKE: entry() rows = {len(rows)}")
    assert len(rows) > 0

    qs, oracles = mod.queries(), mod.oracle_sql()
    print(f"declared: {len(qs)} queries, {len(oracles)} with oracles")
    conn = duckdb_connection(sf_dir)
    n_fail = 0
    n_vacuous = 0
    for name in sorted(qs):
        try:
            spdf = qs[name](spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"PASS {name}: rows-only, rows={len(spdf)}")
            continue
        try:
            odf = conn.execute(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {ex}")
            n_fail += 1
            continue
        problems = compare(spdf, odf)
        if problems:
            print(f"FAIL {name}: " + " | ".join(problems[:3]))
            n_fail += 1
        elif len(spdf) == 0:
            # 0 == 0 proves nothing about the operator's semantics —
            # the q_regexp_extract_all lesson. Surface it loudly.
            print(f"VACUOUS {name}: oracle matched on ZERO rows")
            n_vacuous += 1
        else:
            print(f"PASS {name}: rows={len(spdf)}")
    print(
        f"RESULT: {len(qs) - n_fail}/{len(qs)} pass"
        + (f" ({n_vacuous} VACUOUS zero-row matches)" if n_vacuous else "")
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
