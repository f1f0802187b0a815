"""Full-registry plan sweep: parquet-scan and Exchange node counts for
every registered query — the guide-§1 coverage instrument behind the
r15 batch-3 audit (the bench covers 78 of 237 registrations; this
flags multi-scan diamonds anywhere in the registry, e.g.
kmv_overlap_sketch's 12 scans and rare_bigram_stats' dead
ReusedExchange claim).

Usage: python tools/plan_sweep.py [sf_dir] [out_file]
Writes the full table to out_file (default /tmp/plan_sweep.json) and
prints outliers (scans >= 4 or Exchanges >= 8).
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/plan_sweep.json"

    import __spark_entry__ as entry
    from route81_spark.session import get_spark

    spark = get_spark("plan_sweep", 8)
    out: dict[str, tuple] = {}
    for name, fn in entry.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            out[name] = (
                len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)),
                len(re.findall(r"^\(\d+\) Exchange", plan, re.M)),
            )
        except Exception as e:  # pragma: no cover - sweep robustness
            out[name] = ("ERR", str(e)[:120])
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    rows = [
        (n, v)
        for n, v in out.items()
        if v[0] == "ERR"
        or (isinstance(v[0], int) and v[0] >= 4)
        or (isinstance(v[1], int) and v[1] >= 8)
    ]
    rows.sort(key=lambda r: -(r[1][0] if isinstance(r[1][0], int) else 999))
    for n, v in rows:
        print(f"{n:36s} scans={v[0]} exch={v[1]}")
    print(f"total {len(out)} swept; full table in {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
