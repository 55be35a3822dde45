"""Generate COVERAGE.md: every declared query slug with its defining
module, oracle status, and docstring summary — the line-by-line map
from SURVEY.md §2 to the implementation.

Usage: python scripts/gen_coverage.py [--out COVERAGE.md]
(default: stdout; --out writes the file atomically). Re-run it with
--out after adding or changing a query so the checked-in COVERAGE.md
does not go stale.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oarphpy_spark import registry  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    if args.out:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            _render()
        tmp = args.out + ".tmp"
        with open(tmp, "w") as f:
            f.write(buf.getvalue())
        os.replace(tmp, args.out)
        print(f"wrote {args.out}")
    else:
        _render()


def _render() -> None:
    qs = registry.queries()
    oracles = registry.oracle_sql()
    print("# COVERAGE — declared query inventory")
    print()
    print(f"{len(qs)} queries; {len(oracles)} DuckDB-oracle-checked, "
          f"{len(qs) - len(oracles)} rows-only (nondeterministic/host-dependent "
          "by design).")
    print()
    print("| slug | module | oracle | summary |")
    print("|---|---|---|---|")
    for name in sorted(qs):
        fn = qs[name]
        mod = fn.__module__.replace("oarphpy_spark.queries.", "")
        doc = (fn.__doc__ or "").strip().split("\n")[0].rstrip(".")
        kind = "exact-SQL" if name in oracles else "rows-only"
        print(f"| `{name}` | {mod} | {kind} | {doc} |")
    print()
    print("## Rows-only queries: what IS checked")
    print()
    print("The three rows-only rows are nondeterministic or host-dependent "
          "by design; each still carries a machine-checked invariant:")
    print()
    print("- `q_monte_carlo_pi` — stochastic (reference-style RNG sampling, "
          "oarphpy/spark.py:246-260): pytest asserts "
          "|pi_est − 3.14| < 0.1 at n=1e6 "
          "(tests/test_operators.py::test_monte_carlo_pi); the SAME "
          "computation under hash-derived uniforms is exact-oracle-checked "
          "as `q_pi_deterministic`.")
    print("- `q_cluster_cpu_count` — host-dependent (executor inventory): "
          "pytest asserts the count is ≥ 1 and that a probe thunk run via "
          "for_each_executor returns exactly that many results "
          "(tests/test_operators.py::test_cluster_utils).")
    print("- `q_for_each_executor` — host-dependent (one row per executor "
          "slot): pytest asserts one result per slot, len(results) == "
          "cluster_cpu_count "
          "(tests/test_operators.py::test_cluster_utils).")


if __name__ == "__main__":
    main()
