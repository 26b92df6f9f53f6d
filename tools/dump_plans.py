"""Dump `.explain("formatted")` for named declared queries (judge evidence).

Usage: python tools/dump_plans.py <out_dir> <suffix> <query> [query ...]

Writes <out_dir>/<query>_<suffix>.txt for each query, planned at
$SPARK_GRAFT_SF_DIR (default sf0.1) under the bench steady configuration
(``bench.steady_conf``, the confs bench.py pins for the steady pass).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entrymod
    from bench import steady_conf
    from duckdb_ner_spark.plans.inspect import formatted_plan
    from duckdb_ner_spark.session import default_parallelism, get_spark

    spark = get_spark("dump_plans", extra_conf=steady_conf(default_parallelism()))
    qs = entrymod.queries()
    for name in names:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(qs[name](spark, sf_dir)))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
