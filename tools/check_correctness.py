"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet tables, compare row-count + sorted-column value content.

Each query is built and consumed inside one `materialize.scope()`;
every persistent RDD or CacheManager entry left after the scope closes
is reported as a leak and fails the run. The last line is the JVM's
peak resident set size (VmHWM) and its generated-code compiles with
their total time.

Usage: python tools/check_correctness.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v))
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def held(spark) -> tuple[set, list]:
    """Persistent-RDD ids and the CacheManager's cached plans."""
    rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    data = spark._jsparkSession.sharedState().cacheManager().cachedData()
    plans = [
        data.apply(i).plan().toString().splitlines()[0]
        for i in range(data.size())
    ]
    return rdds, plans


def jvm_peak_rss(spark) -> str:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return line.split(":", 1)[1].strip()
    return "unknown"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from route81_spark.materialize import scope
    from route81_spark.session import codegen_totals, get_spark

    qs = entry.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"not registered queries: {' '.join(unknown)}")
        return 2
    spark = get_spark("correctness", 8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    oracles = entry.oracle_sql()
    failures = []
    leaks = []
    ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        rdds0, plans0 = held(spark)
        try:
            with scope():
                sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        rdds, plans = held(spark)
        new_plans = list((Counter(plans) - Counter(plans0)).elements())
        if rdds - rdds0 or new_plans:
            leaks.append(name)
            print(
                f"LEAK {name}: persistent RDDs {sorted(rdds - rdds0)}, "
                f"cache entries {new_plans}"
            )
        if name not in oracles:
            print(f"SKIP {name}: no oracle ({len(sdf)} rows)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: oracle error: {e}")
            continue
        if len(sdf) != len(odf):
            failures.append(name)
            print(f"FAIL {name}: rows spark={len(sdf)} oracle={len(odf)}")
            continue
        s, o = normalize(sdf), normalize(odf)
        if list(s.columns) != list(o.columns):
            failures.append(name)
            print(f"FAIL {name}: columns spark={list(s.columns)} oracle={list(o.columns)}")
            continue
        dt = [
            f"{c}: {s[c].dtype}!={o[c].dtype}"
            for c in s.columns
            if str(s[c].dtype) != str(o[c].dtype)
        ]
        if dt:
            failures.append(name)
            print(f"FAIL {name}: dtypes differ: {'; '.join(dt)}")
            continue
        try:
            pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
            print(f"OK   {name} ({len(sdf)} rows)")
        except AssertionError as e:
            failures.append(name)
            msg = str(e).splitlines()
            print(f"FAIL {name}: values differ: " + " | ".join(msg[:6]))
    print(f"\n{ran - len(failures)}/{ran} pass, {len(leaks)} leaking: {' '.join(leaks)}")
    cg = codegen_totals(spark)
    print(
        f"jvm peak RSS (VmHWM): {jvm_peak_rss(spark)}; codegen compiles: "
        f"{cg['codegen_compiles']} ({cg['codegen_compile_ms']} ms)"
    )
    return 1 if failures or leaks else 0


if __name__ == "__main__":
    sys.exit(main())
