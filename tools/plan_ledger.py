"""Rewrite plans/ledger.json: the plan-shape row of every registered query.

Usage: python tools/plan_ledger.py <sf_dir> [query ...]

Each row is `bdt_spark.planaudit.ledger_row` over <sf_dir>: the Spark
jobs the query's build runs and the node counts of the physical plan
adaptive execution starts from. tests/test_queries.py checks every row
at the sf0.001 fixtures, so write the ledger from those, in the test
session's geometry (8 shuffle partitions). Named queries rewrite only
their rows; with none, the whole ledger is rewritten. Imports bdt_spark
from this script's checkout.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(REPO, "plans", "ledger.json")


def read_ledger() -> dict[str, dict[str, int]]:
    with open(LEDGER) as f:
        return json.load(f)


def write_ledger(rows: dict[str, dict[str, int]]) -> None:
    """One query per line, so a plan change is a one-line diff."""
    lines = [f"  {json.dumps(k)}: {json.dumps(rows[k])}" for k in sorted(rows)]
    with open(LEDGER, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")


def main() -> None:
    sys.path.insert(0, REPO)
    from bdt_spark.operators.cacheutil import release
    from bdt_spark.planaudit import ledger_row
    from bdt_spark.session import get_spark
    import bdt_spark.plans as plans

    sf_dir, names = sys.argv[1], sys.argv[2:]
    # Python workers (the mapInPandas queries) import bdt_spark too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    rows = read_ledger() if names else {}
    spark = get_spark("plan_ledger", shuffle_partitions=8)
    for name in names or sorted(plans.all_queries()):
        df, rows[name] = ledger_row(spark, name, sf_dir)
        release(df)
        print(name, json.dumps(rows[name]), flush=True)
    write_ledger(rows)
    print(f"wrote {LEDGER} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
