#!/usr/bin/env python
"""sf0.1 scalable-oracle parity tier.

All 288 exact-oracle checks bind at sf0.01 (60 K lineitem rows); this
gate re-runs the registry at sf0.1 (600 K rows) so overflow / precision
/ ordering bugs that only appear with data get a second, 10x-larger
binding point.  The engine side is scale-safe by design (sf1.0/sf2.0
smokes); the hazard is the ORACLES — some DuckDB restatements are
deliberately quadratic (recursive-CTE closures, wedge self-joins; one
reached 78 GB RSS at sf0.1, PROGRESS.jsonl `parity_sf01_adjudication`).

So oracles run in a KILLABLE worker subprocess under a per-slug budget
(DuckDB memory_limit + wall timeout).  A slug whose oracle blows the
budget is recorded as an EXCLUSION with the empirical reason
(oracle_timeout_Ns / worker death), not a failure — those slugs keep
their sf0.01 exact check; everything else gets compared at sf0.1 under
the same representation-exact comparator the driver hash uses.

Usage:
  python scripts/parity_sf01.py [sf_dir]           # parent / full gate
  (internal) --oracle-worker slugs.json outdir sf_dir
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ORACLE_TIMEOUT_S = float(os.environ.get("PARITY_ORACLE_TIMEOUT_S", "180"))
ORACLE_MEM = os.environ.get("PARITY_ORACLE_MEM", "16GB")

# Per-slug wall-budget multipliers for oracles whose honest cost is
# simply high: the link-prediction wedge oracle is Θ(Σ deg²) — ~148M
# wedge rows hash-aggregated into ~101M (u, v) groups at sf0.1.
# Measured r13 on an IDLE box at tier settings (t8/16GB): 260 s —
# DuckDB runs this aggregation at ~2.4 cores regardless of the thread
# setting, and a plan-mirroring rewrite (ride-along degrees, packed
# key) measured 5x WORSE (459 s), so 260 s is the realistic floor
# here, not a stall artifact. That is legitimate work, not a runaway;
# the flat 180 s cap was below even the idle cost (hence the r12
# exclusions). The oracle worker deliberately runs CONCURRENTLY with
# the Spark engine side (cores shared), so the headroom must cover
# contention, not just stalls: r14 measured the exact-LP oracle
# blowing the 3x budget (540 s) on an otherwise-idle box purely from
# engine-side contention. 4x = idle cost x ~2.8 contention+stall
# headroom — still well below the pathological oracles this cap
# exists for (pre-rewrite closures ran 400+ s AND unbounded RSS;
# these are flat-memory).
ORACLE_BUDGET_MULT = {
    "q_link_prediction": 4.0,
    "q_link_prediction_sketch": 4.0,
}


def oracle_worker(slug_file: str, outdir: str, sf_dir: str) -> int:
    """Run each slug's DuckDB oracle; pickle results to outdir.

    Runs under a memory_limit so a quadratic oracle errors/spills
    instead of eating the machine; the parent enforces the wall
    timeout by killing this process (CURRENT names the culprit)."""
    import pandas as pd  # noqa: F401  (pickle round-trip)

    from oarphpy_spark import registry
    from oarphpy_spark.testing.parity import duckdb_connection

    slugs = json.load(open(slug_file))
    oracles = registry.oracle_sql()
    conn = duckdb_connection(sf_dir)
    conn.execute(f"SET memory_limit='{ORACLE_MEM}'")
    conn.execute("SET threads=8")
    for slug in slugs:
        with open(os.path.join(outdir, "CURRENT"), "w") as f:
            f.write(f"{slug}\n{time.time()}")
        try:
            pdf = conn.execute(oracles[slug]).df()
            pdf.to_pickle(os.path.join(outdir, f"{slug}.pkl"))
        except Exception as ex:  # noqa: BLE001 — budget errors are data
            with open(os.path.join(outdir, f"{slug}.err"), "w") as f:
                f.write(f"{type(ex).__name__}: {ex}"[:500])
    return 0


def run_oracles(slugs: list[str], outdir: str, sf_dir: str) -> dict[str, str]:
    """Drive the worker with restart-on-kill; return {slug: exclusion
    reason} for budget-blown slugs."""
    excluded: dict[str, str] = {}
    remaining = list(slugs)
    current_path = os.path.join(outdir, "CURRENT")
    while remaining:
        slug_file = os.path.join(outdir, "slugs.json")
        json.dump(remaining, open(slug_file, "w"))
        if os.path.exists(current_path):
            os.remove(current_path)
        proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__),
             "--oracle-worker", slug_file, outdir, sf_dir],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        killed_slug = None
        while proc.poll() is None:
            time.sleep(2.0)
            try:
                cur, ts = open(current_path).read().splitlines()
                budget = ORACLE_TIMEOUT_S * ORACLE_BUDGET_MULT.get(cur, 1.0)
                if time.time() - float(ts) > budget:
                    proc.kill()
                    proc.wait()
                    killed_slug = cur
            except (FileNotFoundError, ValueError):
                continue
        if killed_slug is None and proc.returncode != 0:
            # Worker died on its own (e.g. OS OOM-kill): CURRENT names
            # the slug it was executing.
            try:
                killed_slug = open(current_path).read().splitlines()[0]
            except Exception:  # noqa: BLE001
                break  # can't attribute — stop; remaining become excluded
        if killed_slug is None:
            return excluded  # clean finish
        slug_budget = ORACLE_TIMEOUT_S * ORACLE_BUDGET_MULT.get(
            killed_slug, 1.0
        )
        excluded[killed_slug] = (
            f"oracle exceeded budget at sf0.1 "
            f"(timeout {slug_budget:g}s / mem {ORACLE_MEM}); "
            f"slug keeps its sf0.01 exact check"
        )
        remaining = remaining[remaining.index(killed_slug) + 1:]
    return excluded


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--oracle-worker":
        return oracle_worker(sys.argv[2], sys.argv[3], sys.argv[4])

    import tempfile

    import pandas as pd

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from oarphpy_spark import registry
    from oarphpy_spark.llm.dedup import release_cached
    from oarphpy_spark.session import SessionFactory
    from oarphpy_spark.testing.parity import compare

    class GateSession(SessionFactory):
        APP_NAME = "oarphpy_spark_parity_sf01"
        MASTER = "local[16]"
        CONF_KV = dict(
            SessionFactory.CONF_KV,
            **{"spark.sql.shuffle.partitions": "16"},
        )

    qs = registry.queries()
    oracles = registry.oracle_sql()
    slugs = sorted(n for n in qs if n in oracles)
    no_oracle = sorted(n for n in qs if n not in oracles)
    outdir = tempfile.mkdtemp(prefix="parity_sf01_")
    t0 = time.time()

    # Oracles churn in the budgeted worker while the engine side runs
    # here — DuckDB (8 threads) and Spark (16) share the 32 cores.
    import threading

    excluded: dict[str, str] = {}

    def _oracle_thread():
        excluded.update(run_oracles(slugs, outdir, sf_dir))

    oth = threading.Thread(target=_oracle_thread, daemon=True)
    oth.start()

    spark = GateSession.getOrCreate()
    spark_res: dict[str, object] = {}
    engine_err: dict[str, str] = {}
    for name in slugs + no_oracle:
        df = None
        try:
            df = qs[name](spark, sf_dir)
            spark_res[name] = df.toPandas()
        except Exception as ex:  # noqa: BLE001
            engine_err[name] = f"{type(ex).__name__}: {ex}"[:300]
        finally:
            if df is not None:
                try:
                    release_cached(df)
                except Exception:  # noqa: BLE001
                    pass
    spark.stop()
    oth.join()

    failed: list[str] = []
    passed = 0
    oracle_errs: dict[str, str] = {}
    for name in slugs:
        if name in excluded:
            continue
        if name in engine_err:
            failed.append(name)
            print(f"FAIL {name}: engine {engine_err[name]}")
            continue
        pkl = os.path.join(outdir, f"{name}.pkl")
        errf = os.path.join(outdir, f"{name}.err")
        if os.path.exists(errf):
            msg = open(errf).read()
            if "OutOfMemory" in msg or "could not allocate" in msg:
                excluded[name] = f"oracle OOM under {ORACLE_MEM} at sf0.1"
            else:
                oracle_errs[name] = msg
                failed.append(name)
                print(f"FAIL {name}: oracle {msg[:200]}")
            continue
        if not os.path.exists(pkl):
            excluded.setdefault(
                name, "oracle result missing (worker aborted)")
            continue
        probs = compare(spark_res[name], pd.read_pickle(pkl))
        if probs:
            failed.append(name)
            print(f"FAIL {name}: {probs[:2]}")
        else:
            passed += 1
    rows_only_ok = [
        n for n in no_oracle if n not in engine_err and len(spark_res[n]) >= 0
    ]
    line = {
        "ts": time.time(),
        "event": "parity_gate",
        "comparator": "representation-exact",
        "sf_dir": sf_dir,
        "declared": len(qs),
        "exact_oracle": len(oracles),
        "passed": passed,
        "rows_only_ok": rows_only_ok,
        "failed": failed,
        "excluded": excluded,
        "wall_s": round(time.time() - t0, 1),
    }
    with open(f"{REPO}/PROGRESS.jsonl", "a") as f:
        f.write(json.dumps(line) + "\n")
    print(
        f"SF0.1 PARITY: {passed}/{len(slugs)} exact pass, "
        f"{len(excluded)} oracle-budget exclusions, failed={failed}"
    )
    import shutil

    shutil.rmtree(outdir, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
