"""Daemon-style entry point: run route81-shaped TOML configs on Spark.

Mirrors the reference's single-binary UX (/root/reference/route81.go:
1599-1617 main -> mustConfig -> start reads -> event loop):

    python -m route81_spark.main --config cfg.toml \
        --tables test.lineitem=/data/lineitem.parquet \
        --ids test.lineitem=l_orderkey,l_linenumber \
        --sink-dir /out/topics [--events-dir /in/events] \
        [--kafka-bootstrap host:9092]

* direct-read namespaces run as one batch job (exit-after-direct-reads
  ≡ process exit when the batch completes, route81.go:805-816)
* change-stream namespaces run as a streaming job over a change-event
  JSON directory (the harness CDC source; swap for the Mongo connector
  in production) until interrupted
* records go to parquet topic dirs, or straight to Kafka when the
  `kafka` key or --kafka-bootstrap is set (same record schema either
  way); main() merges every CLI flag into the config once, before
  --view-config, and the flows read only the config
"""

from __future__ import annotations

import argparse
import os
import sys

from route81_spark.config import Config, kafka_options, load_config
from route81_spark.session import get_spark


def _parse_kv(pairs: list[str]) -> dict[str, str]:
    out = {}
    for p in pairs or []:
        k, v = p.split("=", 1)
        out[k] = v
    return out


def merge_flags(cfg: Config, args) -> None:
    """route81's flag/TOML merge (route81.go:342-404), done once: a given
    flag overrides its TOML key. Every flow reads only `cfg` afterwards;
    `kafka` (flag or TOML) switches all of them from the parquet
    topic-dir loopback to the real format("kafka") transport."""
    if args.kafka_bootstrap:
        cfg.kafka_servers = args.kafka_bootstrap
    if args.http_server_addr is not None:
        cfg.http_server_addr = args.http_server_addr
    for toggle in (
        "disable_change_stream", "disable_stats", "disable_stats_log", "http_server", "pprof",
    ):
        if getattr(args, toggle):
            setattr(cfg, toggle, True)


def write_records(records, sink_dir: str | None, cfg: Config | None = None) -> None:
    """Batch topic write: Kafka when `cfg.kafka_servers` is set, else
    parquet topic partitions under `sink_dir` (also for cfg=None)."""
    if cfg is not None and cfg.kafka_servers:
        records.write.format("kafka").options(**kafka_options(cfg)).save()
    else:
        records.write.mode("append").partitionBy("topic").parquet(sink_dir)


def run_direct_reads(spark, cfg: Config, tables: dict, ids: dict, args) -> None:
    from dataclasses import replace

    from route81_spark.jobs.producer import direct_read_job
    from route81_spark.materialize import scope

    ids_map = {ns: v.split(",") for ns, v in ids.items()}
    subs = [cfg]
    if cfg.mongo_uri and len(cfg.direct_read_namespaces) > cfg.direct_read_concur:
        # reference parity (route81.go:449-450): at most
        # direct-read-concur collections scan the LIVE source cluster at
        # once — chunk the namespaces into sequential batch jobs so a
        # wide config cannot open every collection's cursors together.
        # Parquet stand-ins skip this: there is no source DB to protect,
        # and one unioned job lets the scheduler interleave scans.
        all_ns, n = cfg.direct_read_namespaces, cfg.direct_read_concur
        subs = [
            replace(cfg, direct_read_namespaces=all_ns[i : i + n])
            for i in range(0, len(all_ns), n)
        ]
    for sub in subs:
        with scope():
            write_records(direct_read_job(spark, sub, tables, ids_map), args.sink_dir, cfg)


def ckpt_dir(cfg: Config, root: str, name: str) -> str:
    """Spark's checkpointLocation IS the resume store: the reference
    reads a stored oplog ts from metadata-db.resume under _id=resume-name
    (route81.go:199-224) and saves it periodically (route81.go:846,913);
    structured streaming persists source offsets in the checkpoint.
    resume=true -> stable path keyed by resume-name (restart resumes);
    resume=false (the reference default) -> unique per-process path, so
    a restart starts fresh from current data."""
    if cfg.resume:
        return os.path.join(root, "resume", cfg.resume_name, name)
    return os.path.join(root, f"fresh_{os.getpid()}", name)


def run_change_streams(spark, cfg: Config, doc_schemas: dict, args):
    from pyspark.sql import functions as F

    from route81_spark.jobs.producer import (
        change_stream_source,
        namespace_filter,
        streaming_producer_job,
    )

    ckpt_root = args.checkpoint_dir or args.sink_dir
    if ckpt_root is None:
        raise SystemExit("change streams need --checkpoint-dir (or --sink-dir) for their checkpoints")
    queries = []
    for ns in cfg.change_stream_namespaces:
        stream = change_stream_source(
            spark, cfg, ns, events_dir=args.events_dir, doc_schema=doc_schemas.get(ns)
        ).withColumn("ns_full", F.concat_ws(".", "ns.db", "ns.coll"))
        stream = namespace_filter(stream, cfg).drop("ns_full")
        q = streaming_producer_job(
            spark, cfg, stream, ns,
            sink_dir=None if cfg.kafka_servers else os.path.join(args.sink_dir, ns),
            checkpoint_dir=ckpt_dir(cfg, ckpt_root, f"_ckpt_{ns}"),
        )
        queries.append(q)
    return queries


def run_consumers(spark, cfg: Config, args, listener=None) -> list:
    """Wire each [[consumer]] block: kafka-shaped records (parquet topic
    dirs, or Kafka when `kafka` is configured) -> decode -> classify ->
    keyed merge into --tables-out/<ns> (route81 consumer path §3.3).
    With a stats `listener`, each consumer counts into its own dict."""
    from pyspark.sql import functions as F

    from route81_spark.jobs.consumer import consumer_job, consumer_sink, oplog_seq, topic_source

    queries = []
    for spec in cfg.consumers:
        table = consumer_sink(spark, cfg, spec, args.tables_out)
        if cfg.mongo_uri:
            # live mode: the document shape comes from the target
            # collection itself (connector schema inference)
            from route81_spark.sources.mongo import mongo_reader, with_mongo_retry

            doc_schema = with_mongo_retry(
                lambda: mongo_reader(spark, cfg, spec.mongo_namespace).load().schema,
                cfg,
            )
        else:
            # doc schema from the target table seed (must exist: the
            # merge needs a declared document shape, SURVEY §1.1 option a)
            if not table.exists():
                raise SystemExit(
                    f"seed the target table first: {table.path} needs a keyed table "
                    f"(KeyedParquetTable.init) or a parquet snapshot in its current/"
                )
            doc_schema = table.read().schema
        if cfg.kafka_servers:
            stream = topic_source(spark, cfg, spec, None, None).withColumn("seq", F.col("offset"))
        else:
            # streaming producers write sink_dir/<topic>; batch direct
            # reads write sink_dir/topic=<topic> partitions
            topic_dir = os.path.join(args.sink_dir, spec.kafka_topics[0])
            if not os.path.isdir(topic_dir):
                topic_dir = os.path.join(args.sink_dir, f"topic={spec.kafka_topics[0]}")
            schema = spark.read.parquet(topic_dir).schema
            # per-key ordering from the envelope's oplog timestamp
            # (kafka mode uses the record offset instead)
            stream = topic_source(spark, cfg, spec, topic_dir, schema).withColumn(
                "seq", oplog_seq(F.col("value"))
            )
        q = consumer_job(
            spark, spec, stream, table, doc_schema,
            ckpt_dir(cfg, args.checkpoint_dir or args.tables_out, f"_ckpt_{spec.mongo_namespace}"),
            stats=listener.consumer_stats() if listener else None,
        )
        queries.append(q)
    return queries


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="route81_spark")
    ap.add_argument("--config", required=True)
    ap.add_argument("--tables", nargs="*", help="ns=parquet_path for direct reads")
    ap.add_argument("--ids", nargs="*", help="ns=col1,col2 natural-key columns")
    ap.add_argument("--events-dir", help="change-event JSON dir (per-ns subdirs)")
    ap.add_argument("--sink-dir", help="parquet topic sink root")
    ap.add_argument("--tables-out", help="keyed-table root for consumers")
    ap.add_argument("--checkpoint-dir")
    ap.add_argument("--kafka-bootstrap",
                    help="Kafka bootstrap for every flow instead of parquet (overrides `kafka`)")
    ap.add_argument("--duration", type=float, help="stop streaming after N seconds")
    # reference flag parity (route81.go:415-469)
    ap.add_argument("--view-config", action="store_true",
                    help="print the parsed config as JSON and exit (route81 view-config)")
    ap.add_argument("--disable-change-stream", action="store_true",
                    help="run only direct reads / consumers")
    ap.add_argument("--disable-stats", action="store_true",
                    help="no stats listener or HTTP server")
    ap.add_argument("--disable-stats-log", action="store_true",
                    help="keep counters but don't log them")
    ap.add_argument("--http-server", action="store_true",
                    help="serve /started /healthz /stats")
    ap.add_argument("--http-server-addr",
                    help="listen address for --http-server ([host]:port)")
    ap.add_argument("--pprof", action="store_true",
                    help="serve /debug/pprof/* (route81.go:457)")
    args = ap.parse_args(argv)

    with open(args.config) as f:
        cfg = load_config(f.read())
    merge_flags(cfg, args)
    if args.view_config:
        import dataclasses, json as _json

        print(_json.dumps(dataclasses.asdict(cfg), indent=2, default=str))
        return 0
    if cfg.disable_change_stream:
        cfg.change_stream_namespaces = []
    spark = get_spark("route81_spark_main")

    listener = None
    if cfg.http_server and not cfg.disable_stats:
        from route81_spark.stats import StatsListener, serve_stats

        listener = StatsListener(log=not cfg.disable_stats_log, interval_s=cfg.stats_seconds)
        spark.streams.addListener(listener)
        port = int(cfg.http_server_addr.rsplit(":", 1)[-1] or 8080)
        serve_stats(listener, port=port, pprof=cfg.pprof)

    try:
        if cfg.direct_read_namespaces:
            run_direct_reads(spark, cfg, _parse_kv(args.tables), _parse_kv(args.ids), args)
            if cfg.exit_after_direct_reads:
                return 0
        queries = []
        if cfg.change_stream_namespaces and (args.events_dir or cfg.mongo_uri):
            from pyspark.sql import types as T

            schemas = {}
            if not cfg.mongo_uri:  # live change streams infer their own schema
                for ns in cfg.change_stream_namespaces:
                    sample = spark.read.json(os.path.join(args.events_dir, ns))
                    fd = sample.schema["fullDocument"].dataType if "fullDocument" in sample.columns else T.StructType([])
                    schemas[ns] = fd
            queries += run_change_streams(spark, cfg, schemas, args)
        if cfg.consumers and args.tables_out:
            queries += run_consumers(spark, cfg, args, listener)
        if queries:
            if args.duration:
                import time as _time

                _time.sleep(args.duration)
                for q in queries:
                    q.stop()
            else:
                for q in queries:
                    q.awaitTermination()
        return 0
    except KeyboardInterrupt:
        # SIGINT drain ≡ route81.go:759-773
        for q in spark.streams.active:
            q.stop()
        return 0
    except Exception as e:
        if cfg.fail_fast:
            raise
        # non-fail-fast: report and exit nonzero without a crash dump
        # (the reference's retry loops are connection-establishment
        # concerns; query errors are terminal either way)
        print(f"route81_spark: error: {e}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
