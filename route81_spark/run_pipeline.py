"""Batch pipeline runner — the analytics front door.

The daemon (main.py) mirrors the reference's sync flows; this entry
point exposes the same pipeline dialect as a standalone batch query
tool: a pipeline-JSON file (Mongo stages + the $-extension stages)
applied to a named parquet table, with every other named table
available to $lookup/$graphLookup/$asofJoin/$rangeJoin through the
collection resolver.

    python -m route81_spark.run_pipeline \
        --pipeline q.json --source orders \
        --tables orders=/data/orders.parquet customer=/data/customer.parquet \
        --out /data/result    # omit --out to print a sample + count

The reference has no equivalent (it ships pipelines to the MongoDB
server, route81.go:181-197); here the pipeline IS the query engine, so
a user can run any supported query without writing Spark code.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run(
    spark,
    pipeline: list[dict],
    source: str,
    tables: dict[str, str],
    collections_dir: str | None = None,
) -> DataFrame:
    import route81_spark.ops  # noqa: F401  (registers extension stages)
    from route81_spark.io import load_path
    from route81_spark.pipeline import apply_pipeline, compiler

    if source not in tables:
        raise SystemExit(f"--source {source!r} is not among --tables {sorted(tables)}")
    # pass the LOGICAL name: the TIMESTAMP(NANOS) workaround keys off
    # it, and a snapshot path like events_backup.parquet must still get
    # the events treatment
    loaded = {name: load_path(spark, path, name=name) for name, path in tables.items()}

    def resolve(name: str) -> DataFrame:
        if name not in loaded:
            raise KeyError(
                f"pipeline references table {name!r}; pass it via --tables"
            )
        return loaded[name]

    writer = None
    if collections_dir is not None:
        # $out/$merge persist their (new) collection state as a parquet
        # collection dir — the route81-style write-back path. A fresh
        # directory per run: never overwrite an input path mid-read.
        import os

        # realpath both sides: Spark usually raises "cannot overwrite a
        # path being read", but an input registered under a different
        # string for the same file (symlink, ../, trailing slash) can
        # slip past that check and mode('overwrite') would drop data.
        input_paths = {os.path.realpath(p) for p in tables.values()}

        def writer(name: str, df: DataFrame) -> None:
            target = os.path.join(collections_dir, f"{name}.parquet")
            if os.path.realpath(target) in input_paths:
                raise SystemExit(
                    f"refusing $out/$merge write: {target} resolves to an "
                    "input table path (pass a fresh --write-collections dir)"
                )
            df.write.mode("overwrite").parquet(target)

    compiler.set_collection_resolver(resolve)
    compiler.set_collection_writer(writer)
    try:
        return apply_pipeline(loaded[source], pipeline)
    finally:
        compiler.set_collection_resolver(None)
        compiler.set_collection_writer(None)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="route81_spark.run_pipeline")
    ap.add_argument("--pipeline", required=True, help="pipeline JSON file")
    ap.add_argument("--source", required=True, help="table the pipeline reads")
    ap.add_argument(
        "--tables", nargs="+", required=True, help="name=parquet_path (repeatable)"
    )
    ap.add_argument("--out", help="parquet output path; omit to print a sample")
    ap.add_argument("--show", type=int, default=20, help="sample rows when no --out")
    ap.add_argument(
        "--write-collections",
        help="directory where $out/$merge persist their collection state "
        "as <name>.parquet; omit to keep those stages pure (they still "
        "return the would-be new state)",
    )
    args = ap.parse_args(argv)

    with open(args.pipeline) as f:
        pipeline = json.load(f)
    if not isinstance(pipeline, list):
        raise SystemExit("pipeline file must contain a JSON array of stages")
    tables = {}
    for spec in args.tables:
        name, _, path = spec.partition("=")
        if not path:
            raise SystemExit(f"bad --tables entry (want name=path): {spec!r}")
        tables[name] = path

    from route81_spark.materialize import cached, scope
    from route81_spark.session import get_spark

    spark = get_spark("route81_spark_run_pipeline")
    with scope():
        out = run(
            spark, pipeline, args.source, tables,
            collections_dir=args.write_collections,
        )
        if args.out:
            # observe() rides the write job — no second pass over the result
            from pyspark.sql import Observation

            obs = Observation("run_pipeline")
            out.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
                "overwrite"
            ).parquet(args.out)
            print(json.dumps({"rows": int(obs.get["rows"]), "out": args.out}))
        else:
            with cached(out) as out:  # show + count share one execution
                out.show(args.show, truncate=False)
                print(json.dumps({"rows": out.count()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
