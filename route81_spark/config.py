"""TOML/flag configuration with route81's keys and validation rules
(/root/reference/route81.go:120-147 struct, 342-404 merge, 252-340
validation; README.md:185-368 for the documented key set).

Same contract as the reference: unknown TOML keys are a hard error
(route81.go:477-479); a producer-map must name a kafka-topic
(route81.go:260-264); consumer namespaces must be `db.collection`
(route81.go:318-322); pipelines parse at config time and a namespace
may carry at most one direct and one stream pipeline (README.md:289-291).
"""

from __future__ import annotations

import json
import tomllib
from dataclasses import dataclass, field

MESSAGE_FORMATS = ("json", "json-ext", "avro")  # route81.go:39


class ConfigError(ValueError):
    pass


@dataclass
class PipelineSpec:
    namespace: str  # "" applies to all (README.md:306-313)
    direct: bool
    stages: list[dict]


@dataclass
class ProducerMapSpec:
    mongo_namespace: str
    kafka_topic: str


@dataclass
class ConsumerSpec:
    kafka_topics: list[str]
    mongo_namespace: str  # db.collection
    message_format: str = "json-ext"
    document_root_path: str | None = None
    delete_id_path: str | None = None
    bulk_size: int = 100          # route81.go:309-311
    bulk_flush_seconds: float = 5  # route81.go:312-314
    workers: int = 4               # route81.go:315-317
    avro_schema_spec: str | None = None
    # avro-binary toggle (route81.go:108, consumed route81.go:718-722):
    # false (Go zero value) -> goavro NativeFromTextual, true -> binary
    # (decoding/decoding.go:45-57)
    avro_binary: bool = False
    group_id: str = "route81"      # route81.go:288-290


@dataclass
class Config:
    change_stream_namespaces: list[str] = field(default_factory=list)
    direct_read_namespaces: list[str] = field(default_factory=list)
    direct_read_split_max: int = 9   # route81.go:447-448
    direct_read_concur: int = 4      # route81.go:449-450
    exit_after_direct_reads: bool = False
    # route81 `kafka` key (route81.go:123, default localhost:9092). Here
    # empty = harness parquet-loopback sink; non-empty = real
    # format("kafka") with this bootstrap string.
    kafka_servers: str = ""
    # route81 `mongo` key (route81.go:122, flag default
    # mongodb://localhost:27017 at route81.go:423). Same seam style as
    # kafka: empty = parquet stand-ins, non-empty = format("mongodb")
    # construction in sources/mongo.py.
    mongo_uri: str = ""
    # [kafka-settings] table (route81.go:72-89), preserved key-for-key;
    # kafka_sink_options() maps them to the Spark/Java client names.
    kafka_settings: dict = field(default_factory=dict)
    topic_name_prefix: str = ""
    metadata_db: str = "route81"     # route81.go:439-442
    resume_name: str = "default"
    stats_seconds: float = 10        # route81.go:443-444
    fail_fast: bool = False
    pprof: bool = False              # route81.go:141, served :967-973
    # remaining route81.go:120-147 toggles, TOML-settable like the
    # reference (each also has a CLI flag, merged in by main.merge_flags)
    disable_change_stream: bool = False
    resume: bool = False
    disable_stats: bool = False
    disable_stats_log: bool = False
    http_server: bool = False
    http_server_addr: str = ":8080"
    producer_maps: list[ProducerMapSpec] = field(default_factory=list)
    pipelines: list[PipelineSpec] = field(default_factory=list)
    consumers: list[ConsumerSpec] = field(default_factory=list)

    def pipeline_for(self, namespace: str, stream: bool) -> list[dict] | None:
        """Dispatch mirroring route81.go:185-196: direct=False applies to
        the change stream, direct=True to direct reads; an entry with an
        empty namespace applies to every namespace."""
        for p in self.pipelines:
            if p.direct != (not stream):
                continue
            if p.namespace == "" or p.namespace == namespace:
                return p.stages
        return None

    def consumer_target_namespaces(self) -> list[str]:
        return [c.mongo_namespace for c in self.consumers]


_TOP_KEYS = {
    "change-stream-namespaces", "direct-read-namespaces",
    "direct-read-split-max", "direct-read-concur", "exit-after-direct-reads",
    "topic-name-prefix", "metadata-db", "resume-name", "stats-duration",
    "fail-fast", "producer-map", "pipeline", "consumer", "kafka", "kafka-settings",
    "mongo", "pprof", "disable-change-stream", "resume", "disable-stats",
    "disable-stats-log", "http-server", "http-server-addr",
}

_CONSUMER_KEYS = {
    "group-id", "namespace", "topics", "message-format", "bulk-size",
    "bulk-flush-duration", "workers", "avro-schema-spec", "avro-binary",
    "document-root-path", "delete-id-path",
}

_PRODUCER_MAP_KEYS = {"mongo-namespace", "kafka-topic"}
_PIPELINE_KEYS = {"namespace", "direct", "stages"}


def _duration_seconds(v) -> float:
    if isinstance(v, (int, float)):
        return float(v)
    s = str(v)
    if s.endswith("ms"):
        return float(s[:-2]) / 1000
    if s.endswith("s"):
        return float(s[:-1])
    if s.endswith("m"):
        return float(s[:-1]) * 60
    raise ConfigError(f"bad duration: {v}")


def _validate_namespace(ns: str) -> str:
    parts = ns.split(".")
    if len(parts) != 2 or not parts[0] or not parts[1]:
        # route81.go:318-322
        raise ConfigError(f"namespace must be db.collection: {ns!r}")
    return ns


def load_config(text: str) -> Config:
    data = tomllib.loads(text)
    unknown = set(data) - _TOP_KEYS
    if unknown:
        raise ConfigError(f"unknown config keys: {sorted(unknown)}")  # route81.go:477-479
    cfg = Config(
        change_stream_namespaces=list(data.get("change-stream-namespaces", [])),
        direct_read_namespaces=list(data.get("direct-read-namespaces", [])),
        direct_read_split_max=int(data.get("direct-read-split-max", 9)),
        direct_read_concur=int(data.get("direct-read-concur", 4)),
        exit_after_direct_reads=bool(data.get("exit-after-direct-reads", False)),
        kafka_servers=str(data.get("kafka", "")),
        mongo_uri=str(data.get("mongo", "")),
        kafka_settings=dict(data.get("kafka-settings", {})),
        topic_name_prefix=str(data.get("topic-name-prefix", "")),
        metadata_db=str(data.get("metadata-db", "route81")),
        resume_name=str(data.get("resume-name", "default")),
        stats_seconds=_duration_seconds(data.get("stats-duration", 10)),
        fail_fast=bool(data.get("fail-fast", False)),
        pprof=bool(data.get("pprof", False)),
        disable_change_stream=bool(data.get("disable-change-stream", False)),
        resume=bool(data.get("resume", False)),
        disable_stats=bool(data.get("disable-stats", False)),
        disable_stats_log=bool(data.get("disable-stats-log", False)),
        http_server=bool(data.get("http-server", False)),
        http_server_addr=str(data.get("http-server-addr", ":8080")),
    )
    for m in data.get("producer-map", []):
        unknown = set(m) - _PRODUCER_MAP_KEYS
        if unknown:
            raise ConfigError(f"unknown producer-map keys: {sorted(unknown)}")
        if "kafka-topic" not in m or not m["kafka-topic"]:
            raise ConfigError("producer-map requires kafka-topic")  # route81.go:260-264
        cfg.producer_maps.append(
            ProducerMapSpec(m.get("mongo-namespace", ""), m["kafka-topic"])
        )
    seen: set[tuple[str, bool]] = set()
    for p in data.get("pipeline", []):
        unknown = set(p) - _PIPELINE_KEYS
        if unknown:
            raise ConfigError(f"unknown pipeline keys: {sorted(unknown)}")
        stages_raw = p.get("stages", "[]")
        try:
            stages = json.loads(stages_raw) if isinstance(stages_raw, str) else stages_raw
        except json.JSONDecodeError as e:
            raise ConfigError(f"bad pipeline stages JSON: {e}") from e  # route81.go:273-277
        if not isinstance(stages, list):
            raise ConfigError("pipeline stages must be a JSON array")
        key = (p.get("namespace", ""), bool(p.get("direct", False)))
        if key in seen:
            raise ConfigError(f"duplicate pipeline for {key}")  # README.md:289-291
        seen.add(key)
        cfg.pipelines.append(PipelineSpec(key[0], key[1], stages))
    # the reference's TOML key is [[consumer]] with `namespace`/`topics`
    # (route81.go:99-113, README.md:323-329)
    for c in data.get("consumer", []):
        unknown = set(c) - _CONSUMER_KEYS
        if unknown:
            raise ConfigError(f"unknown consumer keys: {sorted(unknown)}")
        fmt = c.get("message-format", "json-ext")
        if fmt not in MESSAGE_FORMATS:
            raise ConfigError(f"bad message-format: {fmt}")  # route81.go:291-292
        if fmt == "avro" and not c.get("avro-schema-spec"):
            raise ConfigError("avro requires avro-schema-spec")  # route81.go:306-308
        cfg.consumers.append(
            ConsumerSpec(
                kafka_topics=list(c.get("topics", [])),
                mongo_namespace=_validate_namespace(c["namespace"]),
                message_format=fmt,
                document_root_path=c.get("document-root-path"),
                delete_id_path=c.get("delete-id-path"),
                bulk_size=int(c.get("bulk-size", 100)),
                bulk_flush_seconds=_duration_seconds(c.get("bulk-flush-duration", 5)),
                workers=int(c.get("workers", 4)),
                avro_schema_spec=c.get("avro-schema-spec"),
                avro_binary=bool(c.get("avro-binary", False)),
                group_id=c.get("group-id", "route81"),
            )
        )
    return cfg


# route81 kafka-settings (librdkafka names, route81.go:1470-1517) -> the
# Spark Kafka connector's Java-client option names, applied with the
# `kafka.` prefix. Keys with no Java equivalent (broker-version /
# api-version fallbacks are librdkafka-only) are accepted and dropped,
# mirroring the reference's passthrough spirit without inventing knobs.
_KAFKA_SETTING_MAP = {
    "enable-idempotence": ("kafka.enable.idempotence", str),
    "request-timeout-ms": ("kafka.request.timeout.ms", int),
    "message-timeout-ms": ("kafka.delivery.timeout.ms", int),
    "message-max-retries": ("kafka.retries", int),
    "retry-backoff-ms": ("kafka.retry.backoff.ms", int),
    "security-protocol": ("kafka.security.protocol", str),
    # PEM files (librdkafka style) work on the Java client with
    # ssl.truststore.type/keystore.type=PEM (Kafka >= 2.7)
    "ssl-ca-location": ("kafka.ssl.truststore.location", str),
    "ssl-certificate-location": ("kafka.ssl.keystore.location", str),
    "ssl-key-location": ("kafka.ssl.keystore.key", str),
    "ssl-key-password": ("kafka.ssl.key.password", str),
    "sasl-mechanisms": ("kafka.sasl.mechanism", str),
}

_KAFKA_DROPPED = {
    "broker-version-fallback", "api-version-fallback", "api-version-fallback-ms",
}


def kafka_sink_options(cfg: Config) -> dict[str, str]:
    """Spark writer/reader options for the configured [kafka-settings]."""
    out: dict[str, str] = {}
    settings = dict(cfg.kafka_settings)
    unknown = set(settings) - set(_KAFKA_SETTING_MAP) - _KAFKA_DROPPED - {
        "sasl-username", "sasl-password",
    }
    if unknown:
        raise ConfigError(f"unknown kafka-settings keys: {sorted(unknown)}")
    for key, (opt, typ) in _KAFKA_SETTING_MAP.items():
        if key in settings:
            v = settings[key]
            out[opt] = str(typ(v)).lower() if isinstance(v, bool) else str(typ(v))
    if "ssl-ca-location" in settings:
        out["kafka.ssl.truststore.type"] = "PEM"
    if "ssl-certificate-location" in settings or "ssl-key-location" in settings:
        out["kafka.ssl.keystore.type"] = "PEM"
    user, pw = settings.get("sasl-username"), settings.get("sasl-password")
    if user is not None or pw is not None:
        mech = str(settings.get("sasl-mechanisms", "PLAIN")).upper()
        module = (
            "org.apache.kafka.common.security.plain.PlainLoginModule"
            if mech == "PLAIN"
            else "org.apache.kafka.common.security.scram.ScramLoginModule"
        )
        out["kafka.sasl.jaas.config"] = (
            f'{module} required username="{user or ""}" password="{pw or ""}";'
        )
    return out


def kafka_options(cfg: Config) -> dict[str, str]:
    """Every Kafka client option of the configured transport: the
    bootstrap string plus the mapped [kafka-settings]. The producer
    sink, the consumer source and batch topic writes all take these."""
    return {"kafka.bootstrap.servers": cfg.kafka_servers, **kafka_sink_options(cfg)}
