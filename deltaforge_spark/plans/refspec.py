"""Reference-vocabulary spec loader: parse vnvo/deltaforge's EXACT
pipeline YAML (``apiVersion: deltaforge/v1``) and lower it onto the
Spark compiler — so a user's existing config files run unchanged.

Faithful to (reference):
- crates/deltaforge-config/src/lib.rs:391-420 — ``${VAR}`` env
  expansion with *pass-through* for unresolved names, so env vars
  (``${KAFKA_BROKERS}``) coexist with runtime routing templates
  (``${source.table}``) in one file.
- lib.rs:66-141 — PipelineSpec{metadata{name,tenant,labels,
  annotations}, spec{sharding?, source, processors[], sinks[],
  connection_policy?, batch?, commit_policy?, sink_batch_deadline_secs?,
  schema_sensing?, journal?}}.
- lib.rs:204-244 — tagged ``source: {type: mysql|postgres, config:}``
  and ``ProcessorCfg`` (javascript{id,inline,limits} / outbox /
  flatten / filter, flattened configs).
- lib.rs:274-325 — BatchConfig defaults {max_events: 2000, max_bytes:
  16 MiB, max_ms: 50, respect_source_tx: true, max_inflight: 1};
  CommitPolicy tagged by ``mode`` (all | required | quorum{quorum}).
- sinks_cfg.rs:248-262 — tagged ``sinks: [{type: kafka|redis|nats|
  http|s3|clickhouse, config: {...}}]``; per-sink ``envelope:`` block
  (native | debezium | cloudevents{type_prefix}, sinks_cfg.rs:14-33)
  and ``encoding:`` (json default); per-sink ``topic``/``key``
  templates that are *defaults* under event-level routing (JS
  ``ev.route()`` / outbox beat the sink template — kafka.rs:379-436).

Spark lowering:
- mysql/postgres sources → the change-feed boundary source (SURVEY
  §7.2) with the config's ``tables`` allow-list applied through the
  same ``AllowList`` semantics as the reference (patterns.py).
- javascript processors → the Python batch-hook contract (the engine
  boundary documented at plans/compiler.py ``python``): callers
  register per-id Python equivalents implementing the same
  processBatch 1→N + per-event route-override contract. Policy for
  unregistered ids: ``error`` (default, explicit) or ``identity``
  (pass-through, recorded in ``RefPipeline.warnings``).
- per-sink envelope/encoding/templates → a wrapper that fills routing
  defaults (COALESCE under existing event routing, preserving the
  reference's precedence) then applies the envelope projection, then
  the sink writer.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, functions as F, types as T

from ..operators import envelope_cloudevents, envelope_debezium, envelope_native
from ..operators.routing import ROUTING_SCHEMA, compile_template, with_routing
from ..patterns import AllowList
from ..sinks import CommitPolicy, SinkSpec

# --------------------------------------------------------------- env expand

# POSIX-ish var names only — `${source.table}` / `${after.x}` never match,
# so routing templates survive expansion untouched (lib.rs:391-408).
_ENV_VAR = re.compile(r"\$\{([A-Za-z_][A-Za-z0-9_]*)\}")


def expand_env(text: str) -> str:
    """``${VAR}`` → value when set, else the literal ``${VAR}`` kept
    (the reference's env_with_context pass-through)."""
    return _ENV_VAR.sub(lambda m: os.environ.get(m.group(1), m.group(0)), text)


# ------------------------------------------------------------- spec model


@dataclass
class Limits:
    """JS sandbox limits (lib.rs:252-257). cpu/mem are isolate-level in
    the reference; here the batch hook enforces the wall-clock bound
    (timeout_ms) per Arrow batch and records cpu_ms/mem_mb as declared
    intent (a Python worker has no isolate to meter)."""

    cpu_ms: int | None = None
    mem_mb: int | None = None
    timeout_ms: int | None = None


@dataclass
class BatchCfg:
    """The commit unit (lib.rs:274-301, defaults :287-297). Lowered to
    micro-batch shaping: max_ms → processingTime trigger interval,
    max_events → per-trigger admission (maxOffsetsPerTrigger /
    maxFilesPerTrigger on rate-limitable sources); respect_source_tx →
    the tx-never-split assembler (streaming/transactions.py);
    max_inflight=1 matches foreachBatch's serialized batches."""

    max_events: int = 2000
    max_bytes: int = 16 * 1024 * 1024
    max_ms: int = 50
    respect_source_tx: bool = True
    max_inflight: int = 1

    def trigger(self) -> dict:
        return {"processingTime": f"{self.max_ms} milliseconds"}


@dataclass
class SnapshotCfg:
    """Initial-snapshot knobs (snapshot_cfg.rs:6-40). The Spark
    lowering: mode gates the snapshot→stream handoff phase
    (sources/snapshot.py + the cdc_snapshot_handoff flow);
    chunking/parallelism map to the source's split sizing
    (maxPartitionBytes / JDBC partitionColumn bounds) rather than a
    hand-rolled worker pool."""

    mode: str = "initial"  # initial | always | never
    max_parallel_tables: int = 8
    chunk_size: int = 10_000
    intra_table_parallel: bool = False
    max_parallel_chunks: int = 4


@dataclass
class RefSource:
    kind: str  # mysql | postgres
    id: str
    dsn: str | None
    tables: AllowList
    outbox_tables: AllowList
    snapshot: SnapshotCfg = field(default_factory=SnapshotCfg)
    # "earliest" | "latest" | an explicit position string (lsn/gtid) —
    # consumed by sources/recovery.check_resume_offset when no
    # checkpoint exists (lib.rs PostgresStartPosition)
    start_position: str = "earliest"
    # adapt | halt — sources/recovery.reconcile_schema_on_restart policy
    # (lib.rs OnSchemaDrift)
    on_schema_drift: str = "adapt"
    extra: dict[str, Any] = field(default_factory=dict)  # slot, publication, ...


@dataclass
class RefSink:
    kind: str  # kafka | redis | nats | http | s3 | clickhouse
    id: str
    required: bool
    envelope: str  # native | debezium | cloudevents
    type_prefix: str | None
    encoding: str  # json | avro
    topic_template: str | None  # kafka topic / redis stream / nats subject / http url
    key_template: str | None
    exactly_once: bool
    config: dict[str, Any]


@dataclass
class RefPipeline:
    name: str
    tenant: str
    labels: dict[str, str]
    annotations: dict[str, str]
    source: RefSource
    processors: list[dict[str, Any]]
    sinks: list[RefSink]
    batch: BatchCfg
    commit_policy: CommitPolicy
    schema_sensing: dict[str, Any]
    journal: dict[str, Any]
    sharding: dict[str, Any] | None
    sink_batch_deadline_secs: int | None
    warnings: list[str] = field(default_factory=list)


class UnsupportedSpecError(ValueError):
    pass


_DEST_KEYS = {  # per-sink-type field naming for the destination template
    "kafka": "topic",
    "redis": "stream",
    "nats": "subject",
    "http": "url",
    "s3": "prefix",
    "clickhouse": "table",
}


def _parse_sink(s: dict) -> RefSink:
    kind = s["type"].lower()
    cfg = dict(s.get("config", {}))
    env = cfg.get("envelope") or {"type": "native"}
    env_kind = env.get("type", "native").lower()
    if env_kind not in ("native", "debezium", "cloudevents"):
        raise UnsupportedSpecError(f"unknown envelope type {env_kind!r}")
    return RefSink(
        kind=kind,
        id=cfg.get("id", kind),
        required=bool(cfg.get("required", True)),
        envelope=env_kind,
        type_prefix=env.get("type_prefix"),
        encoding=cfg.get("encoding", "json"),
        topic_template=cfg.get(_DEST_KEYS.get(kind, "topic")),
        key_template=cfg.get("key"),
        exactly_once=bool(cfg.get("exactly_once", False)),
        config=cfg,
    )


def parse_reference_spec(d: dict) -> RefPipeline:
    """Normalize a parsed reference YAML document. Raises
    UnsupportedSpecError on vocabulary this engine does not know —
    never silently drops config."""
    if not isinstance(d, dict):
        raise UnsupportedSpecError(
            f"pipeline spec must be a YAML mapping, got {type(d).__name__} {repr(d)[:200]}"
        )
    if d.get("apiVersion", "deltaforge/v1") != "deltaforge/v1":
        raise UnsupportedSpecError(f"apiVersion {d['apiVersion']!r}")
    meta = d.get("metadata", {})
    spec = d.get("spec", {})
    warnings: list[str] = []

    src = spec["source"]
    if src["type"] not in ("mysql", "postgres"):
        raise UnsupportedSpecError(f"source type {src['type']!r}")
    scfg = dict(src.get("config", {}))
    outbox_cfg = scfg.pop("outbox", {}) or {}
    snap_raw = dict(scfg.pop("snapshot", {}) or {})
    snap = SnapshotCfg(**snap_raw)
    if snap.mode not in ("initial", "always", "never"):
        raise UnsupportedSpecError(f"snapshot mode {snap.mode!r}")
    sp = scfg.pop("start_position", "earliest")
    if isinstance(sp, dict):  # {"lsn": "0/16B6C50"} tagged form
        sp = sp.get("lsn") or next(iter(sp.values()), "earliest")
    drift = scfg.pop("on_schema_drift", "adapt")
    if drift not in ("adapt", "halt"):
        raise UnsupportedSpecError(f"on_schema_drift {drift!r}")
    source = RefSource(
        kind=src["type"],
        id=scfg.pop("id", src["type"]),
        dsn=scfg.pop("dsn", None),
        tables=AllowList(scfg.pop("tables", []) or []),
        outbox_tables=AllowList(outbox_cfg.get("tables", []) or []),
        snapshot=snap,
        start_position=str(sp),
        on_schema_drift=drift,
        extra=scfg,
    )

    processors = []
    for p in spec.get("processors", []) or []:
        kind = p.get("type")
        if kind not in ("javascript", "outbox", "flatten", "filter"):
            raise UnsupportedSpecError(f"processor type {kind!r}")
        processors.append(dict(p))

    sinks = [_parse_sink(s) for s in spec.get("sinks", []) or []]

    b = dict(spec.get("batch", {}) or {})
    batch = BatchCfg(
        max_events=b.get("max_events", 2000),
        max_bytes=b.get("max_bytes", 16 * 1024 * 1024),
        max_ms=b.get("max_ms", 50),
        respect_source_tx=b.get("respect_source_tx", True),
        max_inflight=b.get("max_inflight", 1),
    )

    cp = dict(spec.get("commit_policy", {}) or {})
    mode = cp.get("mode", "required")
    policy = CommitPolicy(mode, int(cp.get("quorum", 0) or 0))

    return RefPipeline(
        name=meta.get("name", "pipeline"),
        tenant=meta.get("tenant", ""),
        labels=dict(meta.get("labels", {}) or {}),
        annotations=dict(meta.get("annotations", {}) or {}),
        source=source,
        processors=processors,
        sinks=sinks,
        batch=batch,
        commit_policy=policy,
        schema_sensing=dict(spec.get("schema_sensing", {}) or {}),
        journal=dict(spec.get("journal", {}) or {}),
        sharding=spec.get("sharding"),
        sink_batch_deadline_secs=spec.get("sink_batch_deadline_secs"),
        warnings=warnings,
    )


def load_reference_spec(path_or_yaml: str) -> RefPipeline:
    """Load a spec from a file path, or from YAML text when no such file
    exists (a mistyped path thus fails as a non-mapping document)."""
    import yaml

    text = path_or_yaml
    if os.path.exists(path_or_yaml):
        with open(path_or_yaml) as f:
            text = f.read()
    return parse_reference_spec(yaml.safe_load(expand_env(text)))


# ------------------------------------------------------- processor lowering


def timed_batches(batches, *, timeout_ms: int, proc_id: str):
    """js.rs limits, lowered: wrap a mapInPandas hook's Arrow-batch
    iterator so that a batch whose downstream processing exceeded
    ``timeout_ms`` of wall clock fails the task (the reference
    terminates the isolate; here the task fails → required-policy/DLQ
    decides — same blast radius, per-processBatch granularity).
    Hook authors: ``mapInPandas(lambda it: fn(timed_batches(it, ...)),
    schema)``. cpu_ms/mem_mb are isolate-level meters a Python worker
    does not have; they parse and surface on Limits as declared intent.
    """
    import time

    for pdf in batches:
        t0 = time.monotonic()
        yield pdf
        if (time.monotonic() - t0) * 1000.0 > timeout_ms:
            raise TimeoutError(f"processor {proc_id}: batch exceeded {timeout_ms}ms")


def _lower_processor(
    p: dict,
    js_equivalents: dict[str, Callable] | None,
    js_policy: str,
    warnings: list[str],
) -> Callable[[DataFrame], DataFrame]:
    from .compiler import _build_processor

    kind = p["type"]
    if kind == "javascript":
        pid = p.get("id", "js")
        eq = (js_equivalents or {}).get(pid)
        if eq is not None:
            # limits parse+surface here; the wall-clock bound applies
            # inside mapInPandas hooks via timed_batches (see its doc)
            Limits(**(p.get("limits") or {}))
            return eq
        if js_policy == "identity":
            warnings.append(f"javascript processor {pid!r}: no python equivalent registered; pass-through")
            return lambda df: df
        raise UnsupportedSpecError(
            f"javascript processor {pid!r}: register a Python batch-hook equivalent "
            "(js_equivalents={id: fn}) or compile with js_policy='identity'"
        )
    if kind == "outbox":
        # reference spelling → OutboxSpec field names; everything else
        # (aggregate/event/payload column overrides, strict, defaults)
        # passes through by name
        renames = {"topic": "topic_template", "key": "key_template"}
        q = {"type": "outbox"}
        for k, v in p.items():
            if k in ("type", "id"):
                continue
            q[renames.get(k, k)] = v
        # reference templates name outbox *payload fields* bare
        # ("${aggregate_type}.${event_type}", outbox.rs resolve_topic);
        # the column compiler wants row paths — rewrite through the
        # configured column mapping
        field_cols = {
            "aggregate_type": q.get("aggregate_type_col", "aggregate_type"),
            "aggregate_id": q.get("aggregate_id_col", "aggregate_id"),
            "event_type": q.get("event_type_col", "event_type"),
        }
        for tkey in ("topic_template", "key_template"):
            if q.get(tkey):
                for var, col in field_cols.items():
                    q[tkey] = q[tkey].replace("${" + var + "}", "${after." + col + "}")
        # reference outbox rows carry no dedicated topic column unless
        # configured; OutboxSpec's 'topic' fallback column only applies
        # when the spec names one
        q.setdefault("topic_col", None)
        return _build_processor(q)
    return _build_processor(p)


def allowlist_condition(allow: AllowList) -> F.Column:
    """The AllowList evaluated per-row over (source.db, source.table)
    as one column predicate — same semantics as patterns.AllowList
    .matches (patterns.rs:39-163), codegen'd instead of a Python UDF
    so the driver and the executors agree by construction."""

    def seg(col: F.Column, pattern: str | None) -> F.Column:
        if pattern in (None, "*", "%"):
            return F.lit(True)
        if pattern.endswith(("%", "*")):
            return col.startswith(pattern[:-1])
        return col == pattern

    cond = None
    for q, n in allow.items:
        both = seg(F.col("source.db"), q) & seg(F.col("source.table"), n)
        cond = both if cond is None else (cond | both)
    return cond if cond is not None else F.lit(True)


def _outbox_gate(base: Callable, allow: AllowList) -> Callable[[DataFrame], DataFrame]:
    """Mixed CDC+outbox stream: outbox rows transform (payload promoted,
    per-aggregate routing), CDC rows pass through with their typed row
    images intact. The outbox payload travels in a dedicated
    ``raw_value`` string column so the union stays schema-stable —
    sinks deliver ``raw_value`` verbatim when routing.raw_payload
    (outbox.rs raw delivery), and envelope CDC rows normally."""

    def gated(df: DataFrame) -> DataFrame:
        # NULL source.db/source.table evaluates the allow predicate to
        # NULL, which fails BOTH filter branches — rows would silently
        # vanish from mixed pipelines. NULL-source rows are not outbox
        # rows, so they route to the CDC pass-through branch.
        cond = F.coalesce(allowlist_condition(allow), F.lit(False))
        after_t = df.schema["after"].dataType
        t = (
            base(df.filter(cond))
            .withColumn("raw_value", F.col("after").cast("string"))
            .withColumn("after", F.lit(None).cast(after_t))
            .withColumn("before", F.lit(None).cast(after_t))
        )
        p = df.filter(~cond).withColumn("raw_value", F.lit(None).cast("string"))
        return t.unionByName(p, allowMissingColumns=True)

    return gated


# ----------------------------------------------------------- sink lowering


def fill_routing_defaults(
    df: DataFrame, *, topic_template: str | None, key_template: str | None
) -> DataFrame:
    """Apply the sink's topic/key templates as *defaults*: event-level
    routing (JS route(), outbox) wins — kafka.rs:379-436 resolve order."""
    if "routing" not in df.columns:
        return with_routing(df, topic_template=topic_template, key_template=key_template)
    topic = compile_template(topic_template, strict=True) if topic_template else F.lit(None)
    key = compile_template(key_template, strict=False) if key_template else F.lit(None)
    routing = F.struct(
        F.coalesce(F.col("routing.topic"), topic.cast("string")).alias("topic"),
        F.coalesce(F.col("routing.key"), key.cast("string")).alias("key"),
        F.col("routing.headers").alias("headers"),
        F.col("routing.raw_payload").alias("raw_payload"),
    ).cast(ROUTING_SCHEMA)
    return df.withColumn("routing", routing)


_ENVELOPES = {
    "native": lambda df, _p: envelope_native(df),
    "debezium": lambda df, _p: envelope_debezium(df),
    "cloudevents": lambda df, p: envelope_cloudevents(df, type_prefix=p or "com.deltaforge.cdc"),
}


def _lower_sink(rs: RefSink, pipeline: str, transports: dict[str, Any]) -> SinkSpec:
    """RefSink → SinkSpec. Network sinks take their transport from
    ``transports[sink_id]`` (the injected-client pattern: a real
    redis/nats/http/clickhouse client in production, a recording fake
    in tests — this container has no brokers)."""

    def shaped(df: DataFrame) -> DataFrame:
        routed = fill_routing_defaults(
            df, topic_template=rs.topic_template, key_template=rs.key_template
        )
        body = _ENVELOPES[rs.envelope](routed, rs.type_prefix)
        # outbox raw delivery (outbox.rs): when routing.raw_payload, the
        # promoted payload IS the wire value — the envelope is skipped.
        # Mixed pipelines carry it in `raw_value` (see _outbox_gate);
        # pure-outbox pipelines have the payload string in `after`.
        raw_col = None
        if "raw_value" in body.columns:
            raw_col = F.col("raw_value")
        elif "after" in body.columns and isinstance(body.schema["after"].dataType, T.StringType):
            raw_col = F.col("after")
        if raw_col is not None:
            raw = F.coalesce(F.col("routing.raw_payload"), F.lit(False))
            body = body.withColumn(
                "value",
                F.when(raw & raw_col.isNotNull(), raw_col).otherwise(F.col("value")),
            )
        return body

    tp = transports.get(rs.id)

    flt = None
    fcfg = rs.config.get("filter") or {}
    if any(fcfg.get(k) for k in ("exclude_synthetic", "synthetic_only", "producers")):
        # per-sink SinkFilter (sinks_cfg.rs:911-953) — synthetic
        # provenance gates evaluated before the envelope wrapper
        from ..operators.synthetic import sink_filter

        flt = lambda df: sink_filter(  # noqa: E731
            df,
            exclude_synthetic=bool(fcfg.get("exclude_synthetic", False)),
            synthetic_only=bool(fcfg.get("synthetic_only", False)),
            producers=fcfg.get("producers") or None,
        )

    if rs.kind == "kafka":
        if rs.exactly_once:
            from .compiler import _build_sink

            built = _build_sink(
                {
                    "type": "kafka_eos",
                    "name": rs.id,
                    "required": rs.required,
                    "topic": rs.topic_template,
                    # the producer tuning surface (performance.md:58-76);
                    # resolves defaults-then-overrides in _build_sink
                    **(
                        {"client_conf": rs.config["client_conf"]}
                        if rs.config.get("client_conf")
                        else {}
                    ),
                    **({"spool_dir": tp} if isinstance(tp, str) else {"bootstrap": rs.config.get("brokers", "")}),
                    # transport: wire → stdlib Kafka protocol producer
                    # (kafkawire.py) against the named bootstrap
                    **(
                        {
                            "transport": rs.config["transport"],
                            "num_partitions": rs.config.get("num_partitions", 4),
                        }
                        if rs.config.get("transport")
                        else {}
                    ),
                },
                pipeline,
            )
            # the envelope/routing wrapper applies regardless of the
            # delivery tier — write_kafka_eos projects topic/key/value
            # from the SHAPED frame (previously bypassed: any
            # spec-compiled EOS sink failed on the missing `value` col)
            return SinkSpec(
                name=built.name,
                write=lambda df: built.write(shaped(df)),
                required=built.required,
                filter=flt,
                transport_conf=built.transport_conf,
            )
        from ..sinks.kafka import kafka_payload

        payload_fn = None
        if rs.encoding == "avro":
            # per-sink Avro encoding (sinks_cfg.rs encoding block): the
            # value becomes Confluent-framed Avro binary; the registry
            # transport is injected via transports[f"{id}:registry"]
            from ..sinks.avro import avro_kafka_payload
            from ..sinks.avro_schema import SchemaRegistryClient

            reg = transports.get(f"{rs.id}:registry")
            if reg is None:
                raise UnsupportedSpecError(
                    f"sink {rs.id!r}: encoding avro needs a registry transport "
                    f"(transports['{rs.id}:registry'])"
                )
            client = SchemaRegistryClient(reg.post)
            strategy = rs.config.get("subject_strategy", "topic_name")
            payload_fn = lambda df: avro_kafka_payload(  # noqa: E731
                df, client, default_topic=rs.topic_template or "events", strategy=strategy
            )

        def write_kafka_like(df: DataFrame) -> None:
            body = shaped(df)
            payload = (
                payload_fn(body)
                if payload_fn is not None
                else kafka_payload(body, default_topic=rs.topic_template)
            )
            if tp is None:
                (
                    payload.selectExpr("CAST(key AS STRING)", "CAST(value AS STRING)", "topic")
                    .write.format("noop").mode("overwrite").save()
                )
            else:  # injected collector (tests) — same projection
                tp.extend(payload.collect())

        return SinkSpec(name=rs.id, write=write_kafka_like, required=rs.required, filter=flt)

    if rs.kind in ("redis", "nats"):
        from ..sinks.clients import redis_xadd_fields, write_client_sink

        def write_stream(df: DataFrame) -> None:
            write_client_sink(
                shaped(df),
                tp,
                default_dest=rs.topic_template or "deltaforge",
                fields_fn=redis_xadd_fields if rs.kind == "redis" else None,
            )

        return SinkSpec(name=rs.id, write=write_stream, required=rs.required, filter=flt)

    if rs.kind == "http":
        from ..sinks.clients import http_webhook_sink

        def write_http(df: DataFrame) -> None:
            http_webhook_sink(
                shaped(df),
                url_template=rs.config.get("url", rs.topic_template or ""),
                method=rs.config.get("method", "POST"),
                batch_mode=bool(rs.config.get("batch_mode", False)),
                session_factory=tp,
            )

        return SinkSpec(name=rs.id, write=write_http, required=rs.required, filter=flt)

    if rs.kind == "s3":
        from ..sinks import write_lake

        path = tp or rs.config.get("prefix") or rs.config.get("bucket", "/tmp/lake")
        roll = rs.config.get("rolling")
        if roll:
            # rolling-pool mode (rolling.rs thresholds in the spec):
            # the sink instance persists across batches; `close` is the
            # shutdown flush (reason=final) one-shot runners invoke
            from ..sinks.files import with_partition_cols
            from ..sinks.rolling import RollingConfig, RollingLakeSink

            part_cols = list(roll.get("partition_by", ["table"]))
            holder: dict = {"batch_id": 0}

            def write_rolling(df: DataFrame, batch_id: int) -> None:
                # the REAL micro-batch id drives the pool's replay skip
                # (`batch_id <= last_batch`): a replayed Spark batch N
                # must arrive as N, never as a locally re-counted 0 —
                # else a retried batch stages its rows twice and the
                # next roll compacts both copies
                staged = with_partition_cols(shaped(df))
                if "sink" not in holder:
                    holder["sink"] = RollingLakeSink(
                        df.sparkSession, str(path), part_cols,
                        cfg=RollingConfig(
                            max_bytes=int(roll.get("max_bytes", 256 * 1024 * 1024)),
                            max_events=int(roll.get("max_events", 1_000_000)),
                            max_age_ms=int(roll.get("max_age_ms", 300_000)),
                            idle_age_ms=int(roll.get("idle_age_ms", 600_000)),
                        ),
                        clock=roll.get("clock", "wall"),
                        ts_col=roll.get("ts_col"),
                        sink_id=rs.id,
                    )
                holder["sink"].process_batch(staged, batch_id)

            def write_counted(df: DataFrame) -> None:
                # legacy direct-call path (no batch id in scope): a
                # local monotone counter — NOT replay-safe; every
                # delivery loop (fan_out_batch) uses write_batch
                write_rolling(df, holder["batch_id"])
                holder["batch_id"] += 1

            def close_rolling() -> None:
                if "sink" in holder:
                    holder["sink"].close()

            return SinkSpec(
                name=rs.id, write=write_counted, write_batch=write_rolling,
                required=rs.required, filter=flt, close=close_rolling,
            )

        def write_s3(df: DataFrame) -> None:
            write_lake(shaped(df), str(path), fmt=rs.config.get("format", "parquet"))

        return SinkSpec(name=rs.id, write=write_s3, required=rs.required, filter=flt)

    if rs.kind == "clickhouse":
        # ClickHouse takes the changelog projection, not an envelope:
        # user columns (after-image) + _op/_version/_deleted/_source_ts
        # (sink.rs:123-140) — clickhouse_rows/write_clickhouse own it
        from ..sinks.clickhouse import clickhouse_rows, write_clickhouse

        def write_ch(df: DataFrame) -> None:
            cols = rs.config.get("columns")
            if not cols and isinstance(df.schema["after"].dataType, T.StructType):
                cols = [f.name for f in df.schema["after"].dataType.fields]
            write_clickhouse(
                clickhouse_rows(df, cols or []),
                tp,
                database=rs.config.get("database", "default"),
                table=rs.config.get("table", "events"),
                mode=rs.config.get("mode", "changelog"),
                pk=rs.config.get("pk") or [],
                auto_create=bool(rs.config.get("auto_create", True)),
                # "rowbinary" = the reference's wire format (client.rs
                # FORMAT RowBinary); default stays JSONEachRow so
                # file/recording transports keep working unchanged
                wire_format=rs.config.get("wire_format", "jsoneachrow"),
            )

        return SinkSpec(name=rs.id, write=write_ch, required=rs.required, filter=flt)

    raise UnsupportedSpecError(f"sink type {rs.kind!r}")


# --------------------------------------------------------------- compile


def compile_reference_pipeline(
    ref: RefPipeline,
    *,
    transports: dict[str, Any] | None = None,
    js_equivalents: dict[str, Callable] | None = None,
    js_policy: str = "error",
    binlog_schemas: tuple | None = None,
):
    """Lower a RefPipeline to ``(program, sinks, policy, ref)`` —
    the same triple plans/compiler.py produces, plus the parsed spec
    for runtime knobs (``ref.batch.trigger()``...). ``program`` runs
    the source + table allow-list + processors; sinks carry the
    per-sink envelope/encoding/template wrappers.

    A mysql source whose config carries ``binlog_dir`` runs the REAL
    wire decoder over that segment store (sources/binlog.py
    binlog_change_feed) instead of the synthetic change feed;
    ``binlog_schemas = (columns_by_table, image_schema, ts_ms_field)``
    plays the schema-registry role the reference fills from the live
    DB (mysql_event.rs handle_table_map → load_schema). A postgres
    source with ``wal_dir`` symmetrically runs pgoutput_change_feed
    over captured (seq, data) messages — image schema via
    ``binlog_schemas[1]`` (the relation catalog itself travels in the
    stream's 'R' messages)."""
    from ..sources import change_feed

    transports = transports or {}
    procs = reference_transforms(ref, js_equivalents=js_equivalents, js_policy=js_policy)
    bl_dir = ref.source.extra.get("binlog_dir") if ref.source.kind == "mysql" else None
    wal_dir = ref.source.extra.get("wal_dir") if ref.source.kind == "postgres" else None
    if (bl_dir or wal_dir) and not binlog_schemas:
        raise UnsupportedSpecError(
            "source.config.binlog_dir/wal_dir requires binlog_schemas=(columns_by_table, image_schema, ts_ms_field)"
        )

    def program(spark, sf_dir: str) -> DataFrame:
        if bl_dir:
            from ..sources.binlog import binlog_change_feed

            cols, image_schema, ts_ms_field = binlog_schemas
            df = binlog_change_feed(
                spark.read.parquet(bl_dir), cols, image_schema,
                pipeline=ref.name, ts_ms_field=ts_ms_field,
            )
        elif wal_dir:
            from ..sources.pgoutput import pgoutput_change_feed

            _cols, image_schema, _tsf = binlog_schemas
            df = pgoutput_change_feed(
                spark.read.parquet(wal_dir), image_schema, pipeline=ref.name
            )
        else:
            df = change_feed(spark, sf_dir, pipeline=ref.name)
        for t in procs:
            df = t(df)
        return df

    sinks = [_lower_sink(s, ref.name, transports) for s in ref.sinks]
    return program, sinks, ref.commit_policy, ref


def reference_transforms(
    ref: RefPipeline,
    *,
    js_equivalents: dict[str, Callable] | None = None,
    js_policy: str = "error",
) -> list[Callable[[DataFrame], DataFrame]]:
    """The spec's transform chain, source-agnostic: table allow-list
    filter first (the reference filters at the source), then each
    processor in declared order."""
    chain: list[Callable[[DataFrame], DataFrame]] = []
    allow = ref.source.tables
    if not allow.is_empty():
        chain.append(lambda df: df.filter(allowlist_condition(allow)))
    for p in ref.processors:
        fn = _lower_processor(p, js_equivalents, js_policy, ref.warnings)
        if p["type"] == "outbox" and not ref.source.outbox_tables.is_empty():
            # source.outbox.tables gate (outbox_capture.rs): rows from
            # outbox tables transform; everything else passes through
            # unchanged (the reference's same-pipeline CDC+outbox flow)
            fn = _outbox_gate(fn, ref.source.outbox_tables)
        chain.append(fn)
    if ref.sharding and ref.sharding.get("key"):
        # "optional hint for downstream distribution"
        # (configuration.md:38) — the Spark-native meaning is a hash
        # repartition on the shard key before the sinks, so per-key
        # ordering and sink-partition affinity hold across executors
        key, count = ref.sharding["key"], int(ref.sharding.get("count") or 0)
        chain.append(
            lambda df: df.repartition(count, F.col(key)) if count else df.repartition(F.col(key))
        )
    return chain


def reference_streaming_pipeline(
    ref: RefPipeline,
    *,
    source: Callable,
    transports: dict[str, Any] | None = None,
    js_equivalents: dict[str, Callable] | None = None,
    js_policy: str = "error",
    checkpoint_dir: str = "",
    offsets_path: str = "",
    gate=None,
):
    """Lower a reference spec to a runnable StreamingPipeline: the same
    transform chain and per-sink envelope wrappers over a streaming
    ``source(spark) -> DataFrame``. ``ref.batch`` supplies the trigger
    (max_ms → processingTime; the coordinator's commit unit maps to the
    micro-batch — streaming/pipeline.py header)."""
    from ..streaming.pipeline import StreamingPipeline

    return StreamingPipeline(
        name=ref.name,
        source=source,
        transforms=reference_transforms(
            ref, js_equivalents=js_equivalents, js_policy=js_policy
        ),
        sinks=[_lower_sink(s, ref.name, transports or {}) for s in ref.sinks],
        policy=ref.commit_policy,
        checkpoint_dir=checkpoint_dir,
        offsets_path=offsets_path,
        gate=gate,
    )
