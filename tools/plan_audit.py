"""Generate docs/PLANS.md: per-declared-query physical-plan facts.

The scale-review artifact: shuffle count, broadcast count, pushdown, and
Python-boundary presence for every declared query, so plan regressions are
visible in review diffs.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    import __spark_entry__ as entrymod
    from duckdb_ner_spark.plans.inspect import plan_report
    from duckdb_ner_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-audit")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    lines = [
        "# Physical-plan audit (generated by tools/plan_audit.py)",
        "",
        f"Per declared query at `{sf_dir}` (pre-AQE logical shape): number of",
        "exchanges (shuffles), broadcasts, parquet pushdown presence, and",
        "whether a Python (Arrow UDF) boundary exists. Regenerate after plan",
        "changes; review diffs of this file for shuffle regressions.",
        "",
        "| query | exchanges | broadcasts | pushed filters | python | oracle |",
        "|---|---|---|---|---|---|",
    ]
    from duckdb_ner_spark.plans.registry import assert_hashable_schema

    errors: list[str] = []
    for name in sorted(qs):
        try:
            df = qs[name](spark, sf_dir)
            if name in oracles:
                # schema gate: hash-declared queries must not ship
                # array/map/struct columns (see plans/registry.py).
                assert_hashable_schema(df, name)
            rep = plan_report(df)
            lines.append(
                f"| {name} | {rep.n_exchanges} | {rep.n_broadcasts} "
                f"| {len(rep.pushed_filters)} | {'yes' if rep.has_python_udf else ''} "
                f"| {'hash' if name in oracles else 'rows-only'} |"
            )
        except Exception as exc:  # pragma: no cover
            lines.append(f"| {name} | — | — | — | — | ERROR: {type(exc).__name__} |")
            errors.append(f"{name}: {exc}")

    with open(os.path.join(ROOT, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote docs/PLANS.md ({len(qs)} queries)")
    if errors:
        for e in errors:
            print(f"ERROR {e}")
        raise SystemExit(1)


if __name__ == "__main__":
    main()
