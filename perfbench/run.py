"""Benchmark of route81_spark: one command per workload.

    python3 perfbench/run.py --workload {cdc_tail,query_mix} \
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout of the repository. It imports the
program from there, builds its inputs from the seed, measures for
about S seconds, checks the outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics named in BENCHMARK.json; with
--trace 1 they are its per-layer metrics, and the spans of the run
are written to .bench_out/trace-<workload>-<seed>.json.

Exits non-zero without a result line when the program cannot be
imported or a workload cannot run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _metric_units() -> tuple[dict, dict]:
    """Metric names and units, from BENCHMARK.json at the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=["cdc_tail", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "route81_spark")):
        print(f"perfbench: no route81_spark package under {ROOT}", file=sys.stderr)
        return 2
    end_to_end, per_layer = _metric_units()
    sys.path.insert(0, ROOT)
    # the package must be entered through harness (or ops): importing
    # route81_spark.jobs or .pipeline first hits a circular import
    import route81_spark.harness  # noqa: F401

    from common import Session, Tracer, median, result_line

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer(bool(args.trace))
    sess = None
    try:
        t0 = time.perf_counter()
        sess = Session(work, event_log=bool(args.trace) and args.workload == "query_mix")
        if args.workload == "cdc_tail":
            from cdc import run_tail as run
        else:
            from querymix import run
        out = run(sess, tracer, args.seed, args.seconds, work)
        if args.workload == "query_mix" and args.trace:
            sess.stop()
            from querymix import event_log_layers

            layers, per_query = event_log_layers(sess.event_dir, out["attempted"])
            out["layers"].update(layers)
            out["detail"]["exec_task_metrics"] = per_query
        wall = time.perf_counter() - t0
    finally:
        if sess is not None:
            sess.stop()
        shutil.rmtree(work, ignore_errors=True)

    ops = out["op_ms"]
    e2e = {
        "setup_s": out["setup_s"],
        "op_p50_ms": median(ops),
    }
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "session_start_s": sess.start_s,
        "local": f"local[{sess.cpus}]",
        "default_parallelism": sess.parallelism,
        "wall_s": wall,
        "end_to_end": e2e,
        "samples": len(ops),
        "errors": out["errors"],
        "info": out.get("info", {}),
    }
    print("perfbench " + json.dumps(summary, default=str), file=sys.stderr)
    correct = not out["errors"]
    if args.trace:
        layers = {k: out["layers"].get(k, 0.0) for k in per_layer}
        path = os.path.join(ROOT, ".bench_out", f"trace-{args.workload}-{args.seed}.json")
        tracer.write(path, {**summary, "per_layer": layers, "detail": out.get("detail", {})})
        metrics = {k: (v, per_layer[k]) for k, v in layers.items()}
    else:
        metrics = {k: (v, end_to_end[k]) for k, v in e2e.items()}
    print(result_line(correct, out["attempted"], out["failed"], metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
