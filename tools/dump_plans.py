"""Dump `.explain("formatted")` output for named queries to files.

Usage:
    python tools/dump_plans.py OUT_DIR SUFFIX q156_dup_spans [q166_... ...]

Writes OUT_DIR/<query>_<SUFFIX>.txt for each query, using the checkout
this file lives in (so a worktree at an older commit produces that
commit's plans — the judging convention for optimization rounds:
plans/<round>/<query>_before.txt from the round-entry commit and
..._after.txt from HEAD). Data dir from $SPARK_GRAFT_SF_DIR (default
sf0.1, the bench scale, so size-gated plan choices match the benched
shape). Iterative queries execute their internal driver-side probe jobs
during construction; the dumped plan is the FINAL frame's plan with the
round checkpoints as leaves, which is what the plan tests assert on too.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_loader_spark.queries.registry import all_specs  # noqa: E402
from csv_loader_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_dir, suffix, *names = sys.argv[1:]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump_plans")
    specs = all_specs()
    for name in names:
        if name not in specs:
            print(f"# {name}: not registered in this checkout — skipped")
            continue
        df = specs[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain(formatted) @ {sf_dir}\n")
            f.write(plan.rstrip() + "\n")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
