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
* records go to parquet topic dirs, or straight to Kafka when
  --kafka-bootstrap is given (same record schema either way)
"""

from __future__ import annotations

import argparse
import os
import sys

from route81_spark.config import Config, load_config
from route81_spark.session import get_spark


def _parse_kv(pairs: list[str]) -> dict[str, str]:
    out = {}
    for p in pairs or []:
        k, v = p.split("=", 1)
        out[k] = v
    return out


def effective_bootstrap(cfg: Config, args) -> str:
    """Kafka seam selection for the daemon: the --kafka-bootstrap flag
    ORs over the TOML `kafka` key (route81's flag/TOML merge semantics,
    route81.go:342-404) — either selects the real format("kafka")
    path; both empty keeps the parquet topic-dir loopback."""
    return getattr(args, "kafka_bootstrap", None) or cfg.kafka_servers


def write_records(
    records, sink_dir: str | None, kafka_bootstrap: str | None, cfg: Config | None = None
) -> None:
    if kafka_bootstrap:
        from route81_spark.config import kafka_sink_options

        writer = records.write.format("kafka").option(
            "kafka.bootstrap.servers", kafka_bootstrap
        )
        for k, v in (kafka_sink_options(cfg) if cfg else {}).items():
            writer = writer.option(k, v)
        writer.save()
    else:
        records.write.mode("append").partitionBy("topic").parquet(sink_dir)


def run_direct_reads(spark, cfg: Config, tables: dict, ids: dict, args) -> None:
    from dataclasses import replace

    from route81_spark.jobs.producer import direct_read_job

    ids_map = {ns: v.split(",") for ns, v in ids.items()}
    bootstrap = effective_bootstrap(cfg, args)
    if cfg.mongo_uri and len(cfg.direct_read_namespaces) > cfg.direct_read_concur:
        # reference parity (route81.go:449-450): at most
        # direct-read-concur collections scan the LIVE source cluster at
        # once — chunk the namespaces into sequential batch jobs so a
        # wide config cannot open every collection's cursors together.
        # Parquet stand-ins skip this: there is no source DB to protect,
        # and one unioned job lets the scheduler interleave scans.
        all_ns = cfg.direct_read_namespaces
        for i in range(0, len(all_ns), cfg.direct_read_concur):
            sub = replace(
                cfg, direct_read_namespaces=all_ns[i : i + cfg.direct_read_concur]
            )
            records = direct_read_job(spark, sub, tables, ids_map)
            write_records(records, args.sink_dir, bootstrap, cfg)
        return
    records = direct_read_job(spark, cfg, tables, ids_map)
    write_records(records, args.sink_dir, bootstrap, cfg)


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

    queries = []
    for ns in cfg.change_stream_namespaces:
        stream = change_stream_source(
            spark, cfg, ns, events_dir=args.events_dir, doc_schema=doc_schemas.get(ns)
        ).withColumn("ns_full", F.concat_ws(".", "ns.db", "ns.coll"))
        stream = namespace_filter(stream, cfg).drop("ns_full")
        q = streaming_producer_job(
            spark, cfg, stream, ns,
            sink_dir=os.path.join(args.sink_dir, ns),
            checkpoint_dir=ckpt_dir(cfg, args.checkpoint_dir or args.sink_dir, f"_ckpt_{ns}"),
        )
        queries.append(q)
    return queries


def run_consumers(spark, cfg: Config, args) -> list:
    """Wire each [[consumer]] block: kafka-shaped records (parquet topic
    dirs, or Kafka when --kafka-bootstrap) -> decode -> classify ->
    keyed merge into --tables-out/<ns> (route81 consumer path §3.3)."""
    from pyspark.sql import functions as F

    from route81_spark.jobs.consumer import consumer_job, consumer_sink, oplog_seq

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
            doc_schema = table.read().schema if table.exists() else None
            if doc_schema is None:
                raise SystemExit(
                    f"seed the target table first: "
                    f"{os.path.join(args.tables_out, spec.mongo_namespace)}/current must exist"
                )
        bootstrap = effective_bootstrap(cfg, args)
        if bootstrap:
            from route81_spark.config import kafka_sink_options

            reader = (
                spark.readStream.format("kafka")
                .option("kafka.bootstrap.servers", bootstrap)
                .option("subscribe", ",".join(spec.kafka_topics))
                .option("startingOffsets", "earliest")  # route81.go:1150
                .option("includeHeaders", "true")
                .option("kafka.group.id", spec.group_id)
                # bulk-size x workers bounds one flush cycle's records
                .option("maxOffsetsPerTrigger", str(spec.bulk_size * spec.workers))
            )
            for k, v in kafka_sink_options(cfg).items():
                reader = reader.option(k, v)
            stream = reader.load().withColumn("seq", F.col("offset"))
        else:
            # streaming producers write sink_dir/<topic>; batch direct
            # reads write sink_dir/topic=<topic> partitions
            topic_dir = os.path.join(args.sink_dir, spec.kafka_topics[0])
            if not os.path.isdir(topic_dir):
                topic_dir = os.path.join(args.sink_dir, f"topic={spec.kafka_topics[0]}")
            first = spark.read.parquet(topic_dir)
            stream = spark.readStream.schema(first.schema).parquet(topic_dir)
            # per-key ordering from the envelope's oplog timestamp
            # (kafka mode uses the record offset instead)
            stream = stream.withColumn("seq", oplog_seq(F.col("value")))
        q = consumer_job(
            spark, spec, stream, table, doc_schema,
            ckpt_dir(cfg, args.checkpoint_dir or args.tables_out, f"_ckpt_{spec.mongo_namespace}"),
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
    ap.add_argument("--kafka-bootstrap", help="produce to Kafka instead of parquet")
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
    ap.add_argument("--http-server-addr", default=":8080",
                    help="listen address for --http-server ([host]:port)")
    ap.add_argument("--pprof", action="store_true",
                    help="serve /debug/pprof/* (route81.go:457)")
    args = ap.parse_args(argv)

    with open(args.config) as f:
        cfg = load_config(f.read())
    if args.view_config:
        import dataclasses, json as _json

        print(_json.dumps(dataclasses.asdict(cfg), indent=2, default=str))
        return 0
    # each toggle is TOML-settable like the reference (route81.go:120-147);
    # the CLI flag ORs on top (route81.go:342-404 merge semantics)
    if args.disable_change_stream or cfg.disable_change_stream:
        cfg.change_stream_namespaces = []
    spark = get_spark("route81_spark_main")

    http_server = None
    want_http = args.http_server or cfg.http_server
    disable_stats = args.disable_stats or cfg.disable_stats
    if want_http and not disable_stats:
        from route81_spark.stats import StatsListener, serve_stats

        listener = StatsListener(
            log=not (args.disable_stats_log or cfg.disable_stats_log),
            interval_s=cfg.stats_seconds,
        )
        spark.streams.addListener(listener)
        addr = (
            args.http_server_addr
            if args.http_server_addr != ":8080"
            else cfg.http_server_addr
        )
        port = int(addr.rsplit(":", 1)[-1] or 8080)
        http_server = serve_stats(
            listener, port=port, pprof=args.pprof or cfg.pprof
        )

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
            queries += run_consumers(spark, cfg, args)
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
