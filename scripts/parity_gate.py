#!/usr/bin/env python
"""End-of-round full-registry parity gate: run every declared query
against its DuckDB oracle under the REPRESENTATION-EXACT comparator
(testing/parity.py — same semantics as the driver's value hash) and
append a machine-checkable result line to PROGRESS.jsonl.

Usage: python scripts/parity_gate.py [sf_dir]
Exits nonzero if any oracle-checked query mismatches.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

from oarphpy_spark import registry  # noqa: E402
from oarphpy_spark.testing.parity import run_parity  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[8]")
        # A plain session gets a 1g heap: enough at sf0.01, but the
        # heavy graph/set-join queries OOM the JVM at sf0.1 (the gate
        # then reports "Connection refused" for everything after).
        .config(
            "spark.driver.memory",
            os.environ.get("PARITY_DRIVER_MEM", "8g"),
        )
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    qs = sorted(registry.queries())
    oracles = registry.oracle_sql()
    failed: list[str] = []
    t0 = time.time()
    for name in qs:
        try:
            probs = run_parity(spark, name, sf_dir)
        except Exception as ex:  # noqa: BLE001
            probs = [f"error: {ex}"]
        if probs:
            failed.append(name)
            print(f"FAIL {name}: {probs[:2]}")
    # The graph family deliberately shares localCheckpointed edge
    # relations across slugs within the run; release them once at the
    # end (they are keyed per sf_dir and would outlive the gate).
    from oarphpy_spark.queries.graph_queries import release_shared_edges

    release_shared_edges(spark)
    line = {
        "ts": time.time(),
        "event": "parity_gate",
        "comparator": "representation-exact",
        "sf_dir": sf_dir,
        "declared": len(qs),
        "exact_oracle": len(oracles),
        "failed": failed,
        "wall_s": round(time.time() - t0, 1),
    }
    with open(f"{REPO}/PROGRESS.jsonl", "a") as f:
        f.write(json.dumps(line) + "\n")
    print(f"PARITY GATE: {len(qs) - len(failed)}/{len(qs)} pass "
          f"({len(oracles)} exact-oracle), failed={failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
