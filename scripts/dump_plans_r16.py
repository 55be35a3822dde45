#!/usr/bin/env python
"""Dump `.explain("formatted")` for every bench query (headline +
extras) into plans/r16/<query>_<tag>.txt, where <tag> is argv[1]
(before/after). Queries whose public wrapper eagerly materializes
(truncate_lineage) are captured from their internal plan builders so
the file shows the REAL computation plan, not a LogicalRDD scan.

Usage: python scripts/dump_plans_r16.py before [slug ...]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = "/root/repo"
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    out_dir = os.path.join(REPO, "plans", "r16")
    os.makedirs(out_dir, exist_ok=True)

    import bench
    from oarphpy_spark import registry
    from oarphpy_spark.session import SessionFactory

    spark = SessionFactory.getOrCreate()
    qs = registry.queries()

    # Eagerly-materializing wrappers: capture the internal lazy plan.
    from oarphpy_spark.queries import graph_queries as gq

    def lp_exact(spark, sf_dir):
        df, caches = gq._link_prediction_exact_plan(
            spark, sf_dir, gq._LP_DEGREE_CAP
        )
        return df, caches

    def lp_sketch(spark, sf_dir):
        return gq._link_prediction_sketch_plan(spark, sf_dir)

    special = {
        "q_link_prediction": lp_exact,
        "q_link_prediction_sketch": lp_sketch,
    }

    names = [n for n in bench.HEADLINE + bench.EXTRAS if n in qs]
    if only:
        names = [n for n in names if n in only]
    for name in names:
        caches = []
        try:
            if name in special:
                df, caches = special[name](spark, SF_DIR)
            else:
                df = qs[name](spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(out_dir, f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}")
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: {ex}")
        finally:
            for c in caches:
                try:
                    c.unpersist()
                except Exception:  # noqa: BLE001
                    pass
    gq.release_shared_edges(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
