"""Normalized-plan snapshot of every registered query — the
refactor-safety harness: run before and after a pure-code-motion
change and diff the outputs; byte-equal snapshots prove no recorded
query's plan moved (the driver's headline accounting and the plan
pins both key on plan shape).

Expression IDs (#123) and plan_id counters vary per session, so they
normalize to #x / plan_id=x; everything else (operators, literals,
pushed filters, the registered-SQL-function names) must match
byte-for-byte.

Usage: python tools/plan_snapshot.py [sf_dir] [out_file] [name ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(plan: str) -> str:
    plan = re.sub(r"#\d+", "#x", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=x", plan)
    plan = re.sub(r"Statistics\([^)]*\)", "Statistics(x)", plan)
    # Java array object-identity prints (binary literals render as
    # [B@hexhash) vary per JVM session — not plan shape
    plan = re.sub(r"\[B@[0-9a-f]+", "[B@x", plan)
    # higher-order-function variables print as `lambda x_406#x`: the
    # ordinal is a SESSION-GLOBAL counter (any lambda built earlier in
    # the process shifts every later one), not plan shape — r13: the
    # three new text registrations renumbered 90+ untouched plans
    plan = re.sub(r"lambda ([A-Za-z]+)_\d+#", r"lambda \1_x#", plan)
    return plan


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/plans.txt"
    only = set(sys.argv[3:])

    import __spark_entry__ as entry
    from route81_spark.session import get_spark

    spark = get_spark("plan_snapshot", 8)
    qs = entry.queries()
    errors = []
    with open(out_path, "w") as fh:
        for name, fn in qs.items():
            if only and name not in only:
                continue
            try:
                df = fn(spark, sf_dir)
                plan = df._jdf.queryExecution().executedPlan().toString()
            except Exception as e:  # streaming-only etc. — record the kind
                plan = f"<error: {type(e).__name__}>"
                errors.append(name)
            fh.write(f"===== {name} =====\n{normalize(plan)}\n")
    print(f"wrote {out_path}")
    # a query that fails to build on both sides of a diff stays
    # byte-equal, so name every one
    print(f"{len(errors)} queries recorded as <error: ...>: {' '.join(errors)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
