"""The reference's own example configs load and compile unchanged.

Parity evidence for the primary entry point (reference
crates/deltaforge-config/src/lib.rs load_from_path + the 7 files under
reference examples/): every example parses through the reference
vocabulary (tagged source/sink `config:` blocks, `${VAR}` env
pass-through, per-sink envelope/encoding, batch, commit_policy), and
run-tests exercise the lowered pipelines end-to-end on the testdata
change feed — per-sink envelope shapes, sink-template-vs-event-routing
precedence, outbox raw delivery, table allow-lists, quorum parsing.
"""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from deltaforge_spark.plans.refspec import (
    BatchCfg,
    UnsupportedSpecError,
    allowlist_condition,
    compile_reference_pipeline,
    expand_env,
    load_reference_spec,
    parse_reference_spec,
)

EXAMPLES = sorted(glob.glob("/root/reference/examples/*.yaml"))


def needs_reference(path):
    """The reference checkout's own files are what these tests assert;
    without them there is nothing to check."""
    return pytest.mark.skipif(
        not os.path.exists(path), reason=f"reference checkout not at {path}"
    )


# ------------------------------------------------------------ parse layer


@needs_reference("/root/reference/examples")
def test_all_reference_examples_parse():
    """All 7 files parse, and lower to programs+sinks without running
    Spark."""
    assert len(EXAMPLES) == 7
    for path in EXAMPLES:
        ref = load_reference_spec(path)
        assert ref.name and ref.tenant
        assert ref.sinks, path
        for s in ref.sinks:
            assert s.envelope in ("native", "debezium", "cloudevents")
        _compile_with_identity_js(ref)


def test_env_passthrough_vs_substitution(monkeypatch):
    monkeypatch.setenv("KAFKA_BROKERS", "broker-a:9092")
    monkeypatch.delenv("MYSQL_DSN", raising=False)
    text = "a: ${KAFKA_BROKERS}\nb: ${MYSQL_DSN}\nc: cdc.${source.table}\n"
    out = expand_env(text)
    assert "broker-a:9092" in out
    assert "${MYSQL_DSN}" in out  # unresolved env var passes through
    assert "${source.table}" in out  # routing template untouched


@needs_reference("/root/reference/examples/dev.yaml")
def test_dev_yaml_shapes():
    ref = load_reference_spec("/root/reference/examples/dev.yaml")
    assert ref.name == "mysql-smoke" and ref.tenant == "acme"
    assert [s.kind for s in ref.sinks] == ["redis", "kafka"]
    assert ref.sinks[0].required is False and ref.sinks[1].required is True
    assert ref.sinks[0].envelope == "native" and ref.sinks[1].envelope == "debezium"
    assert ref.sinks[0].topic_template == "df.events"
    assert ref.batch.max_events == 2000 and ref.batch.max_bytes == 8388608
    assert ref.commit_policy.kind == "required"
    assert ref.schema_sensing["deep_inspect"]["max_depth"] == 5
    assert ref.source.tables.matches("orders", "order_items")
    assert not ref.source.tables.matches("other", "t")


@needs_reference("/root/reference/examples/dev.envelopes.yaml")
def test_envelope_yaml_commit_all_and_cloudevents_prefix():
    ref = load_reference_spec("/root/reference/examples/dev.envelopes.yaml")
    assert ref.commit_policy.kind == "all"
    ce = [s for s in ref.sinks if s.envelope == "cloudevents"]
    assert ce and ce[0].type_prefix == "com.df.cdc"


@needs_reference("/root/reference/examples/outbox.yaml")
def test_outbox_yaml_outbox_tables():
    ref = load_reference_spec("/root/reference/examples/outbox.yaml")
    assert ref.source.outbox_tables.matches("shop", "outbox")
    assert not ref.source.outbox_tables.matches("shop", "orders")
    assert ref.processors[0]["type"] == "outbox"
    assert ref.processors[0]["raw_payload"] is True


def test_batch_defaults_match_reference():
    b = BatchCfg()  # lib.rs:287-297 Default impl
    assert (b.max_events, b.max_bytes, b.max_ms, b.respect_source_tx, b.max_inflight) == (
        2000,
        16 * 1024 * 1024,
        50,
        True,
        1,
    )
    assert b.trigger() == {"processingTime": "50 milliseconds"}


def test_unknown_vocabulary_is_an_error():
    with pytest.raises(UnsupportedSpecError):
        parse_reference_spec({"spec": {"source": {"type": "oracle", "config": {}}}})
    with pytest.raises(UnsupportedSpecError):
        parse_reference_spec(
            {
                "spec": {
                    "source": {"type": "mysql", "config": {}},
                    "processors": [{"type": "mystery"}],
                }
            }
        )


def test_quorum_mode_parses():
    ref = parse_reference_spec(
        {
            "metadata": {"name": "q", "tenant": "t"},
            "spec": {
                "source": {"type": "mysql", "config": {"id": "m"}},
                "sinks": [],
                "commit_policy": {"mode": "quorum", "quorum": 2},
            },
        }
    )
    assert ref.commit_policy.kind == "quorum" and ref.commit_policy.quorum == 2


def _compile_with_identity_js(ref):
    """Lower ``ref`` under js_policy='identity', check its program and
    sinks, and return the compiled spec."""
    program, sinks, policy, ref2 = compile_reference_pipeline(
        ref, js_policy="identity", transports={}
    )
    assert callable(program)
    assert len(sinks) == len(ref.sinks)
    for want, got in zip(ref.sinks, sinks):
        assert got.name == want.id and got.required == want.required
    if any(p["type"] == "javascript" for p in ref.processors):
        assert ref2.warnings  # identity pass-through is recorded
    return ref2


def test_examples_compile_with_identity_js():
    """The lowering the reference examples get in
    test_all_reference_examples_parse, without the reference checkout:
    the testdata spec plus one inline javascript processor compiles
    under js_policy='identity', one sink per spec sink, the pass-through
    recorded as a warning."""
    ref = _testdata_spec_with_unmapped_js()
    assert ref.sinks
    assert _compile_with_identity_js(ref).warnings


def _testdata_spec_with_unmapped_js():
    """``TESTDATA_SPEC`` plus one inline javascript processor with no
    registered Python equivalent."""
    import yaml

    doc = yaml.safe_load(expand_env(TESTDATA_SPEC))
    doc["spec"]["processors"].append(
        {
            "type": "javascript",
            "id": "no-equivalent",
            "inline": "function processBatch(events) { return events; }",
        }
    )
    return parse_reference_spec(doc)


def test_js_without_equivalent_is_an_error_by_default():
    """The default js_policy='error' rejects a javascript processor with
    no registered Python equivalent: the reference's dev.yaml where that
    checkout exists, else the testdata spec plus one such processor."""
    dev_yaml = "/root/reference/examples/dev.yaml"
    if os.path.exists(dev_yaml):
        ref = load_reference_spec(dev_yaml)
    else:
        ref = _testdata_spec_with_unmapped_js()
    assert any(p["type"] == "javascript" for p in ref.processors)
    with pytest.raises(UnsupportedSpecError, match="javascript processor"):
        compile_reference_pipeline(ref)


@pytest.mark.parametrize("doc", ["just a string", ["a", "list"], None])
def test_non_mapping_spec_is_an_error(doc):
    with pytest.raises(UnsupportedSpecError, match="must be a YAML mapping") as err:
        parse_reference_spec(doc)
    assert repr(doc) in str(err.value)


def test_missing_spec_path_is_an_error(tmp_path):
    missing = str(tmp_path / "no-such.yaml")
    with pytest.raises(UnsupportedSpecError, match="must be a YAML mapping") as err:
        load_reference_spec(missing)
    assert missing in str(err.value)


# ------------------------------------------------------------ run layer

TESTDATA_SPEC = """
apiVersion: deltaforge/v1
kind: Pipeline
metadata:
  name: refspec-run
  tenant: acme
spec:
  source:
    type: mysql
    config:
      id: m
      dsn: "mysql://x"
      tables: ["testdb.ev%"]
  processors: []
  sinks:
    - type: kafka
      config:
        id: k1
        brokers: "b:9092"
        topic: "cdc.${source.db}.${source.table}"
        key: "${after.user_id}"
        envelope:
          type: debezium
        encoding: json
        required: true
    - type: redis
      config:
        id: r1
        uri: "redis://x"
        stream: df.events
        envelope:
          type: native
        required: false
  commit_policy:
    mode: all
"""


class _Collector(list):
    pass


def test_compiled_pipeline_runs_and_envelopes_per_sink(spark, sf_dir, tmp_path):
    from deltaforge_spark.sinks.clients import read_spool, spool_sink_factory
    from deltaforge_spark.sinks.foreach import fan_out_batch

    ref = parse_reference_spec(__import__("yaml").safe_load(expand_env(TESTDATA_SPEC)))
    kafka_rows = _Collector()
    spool_dir = str(tmp_path / "redis")

    program, sinks, policy, _ = compile_reference_pipeline(
        ref, transports={"k1": kafka_rows, "r1": spool_sink_factory(spool_dir)}
    )
    assert policy.kind == "all"
    df = program(spark, sf_dir).limit(50).cache()
    n = df.count()
    assert n > 0

    outcomes = fan_out_batch(df, 0, sinks, policy=policy)
    assert outcomes == {"k1": True, "r1": True}

    # kafka got the debezium envelope with the template-resolved topic
    assert len(kafka_rows) == n
    topics = {r["topic"] for r in kafka_rows}
    assert topics == {"cdc.testdb.events"}
    body = json.loads(kafka_rows[0]["value"])
    assert set(body) >= {"schema", "payload"} and body["schema"] is None
    assert body["payload"]["source"]["table"] == "events"

    # redis got the native envelope, XADD field layout, configured stream
    sent = read_spool(spool_dir)
    assert len(sent) == n
    assert {e["dest"] for e in sent} == {"df.events"}
    native = json.loads(sent[0]["df-event"])
    assert "payload" not in native and native["source"]["table"] == "events"


def test_allowlist_filters_rows(spark, sf_dir):
    spec = TESTDATA_SPEC.replace('tables: ["testdb.ev%"]', 'tables: ["otherdb.*"]')
    ref = parse_reference_spec(__import__("yaml").safe_load(expand_env(spec)))
    program, _, _, _ = compile_reference_pipeline(ref, transports={})
    assert program(spark, sf_dir).count() == 0


def test_js_equivalent_route_override_beats_sink_template(spark, sf_dir):
    """The dynamic-js-routing contract: a batch hook sets per-event
    routing; the sink template only fills events the hook skipped
    (kafka.rs resolve precedence)."""
    from deltaforge_spark.operators.routing import with_routing
    from deltaforge_spark.sinks.foreach import fan_out_batch

    ref = parse_reference_spec(__import__("yaml").safe_load(expand_env(TESTDATA_SPEC)))
    ref.processors.append({"type": "javascript", "id": "route-by-value", "inline": "function processBatch(e){}"})
    kafka_rows = _Collector()

    def route_by_value(df):
        # ev.route({topic: 'events.priority'}) for high-value events;
        # others keep routing null → sink template resolves them
        routed = with_routing(df, topic_template="events.priority", key_template="${after.user_id}")
        rt = routed.schema["routing"].dataType
        return routed.withColumn(
            "routing",
            F.when(F.col("after.value") > 50, F.col("routing")).otherwise(F.lit(None).cast(rt)),
        )

    program, sinks, policy, _ = compile_reference_pipeline(
        ref,
        transports={"k1": kafka_rows, "r1": lambda: None},
        js_equivalents={"route-by-value": route_by_value},
    )
    df = program(spark, sf_dir).limit(200).cache()
    hi = df.filter(F.col("after.value") > 50).count()
    lo = df.count() - hi
    assert hi > 0 and lo > 0
    fan_out_batch(df, 0, [s for s in sinks if s.name == "k1"], policy=policy)
    topics = [r["topic"] for r in kafka_rows]
    assert topics.count("events.priority") == hi
    assert topics.count("cdc.testdb.events") == lo


OUTBOX_SPEC = """
apiVersion: deltaforge/v1
kind: Pipeline
metadata:
  name: outbox-run
  tenant: acme
spec:
  source:
    type: mysql
    config:
      id: m
      dsn: "mysql://x"
      tables: ["testdb.*"]
      outbox:
        tables: ["testdb.events"]
  processors:
    - type: outbox
      topic: "${aggregate_type}.${event_type}"
      default_topic: events.unrouted
      raw_payload: true
  sinks:
    - type: kafka
      config:
        id: ok
        brokers: "b:9092"
        topic: "cdc.${source.db}.${source.table}"
        envelope:
          type: debezium
  commit_policy:
    mode: required
"""


def test_outbox_raw_delivery_through_sink(spark, sf_dir):
    """Outbox rows land with the RAW payload as the wire value and the
    per-aggregate topic; the outbox table's rows never appear as CDC."""
    from deltaforge_spark.sinks.foreach import fan_out_batch

    ref = parse_reference_spec(__import__("yaml").safe_load(expand_env(OUTBOX_SPEC)))
    # outbox columns live in the events payload: aggregate_type etc.
    # The testdata change feed lacks them, so point the processor at
    # existing payload fields (same template machinery).
    ref.processors[0].update(
        {
            "aggregate_type_col": "event_type",
            "aggregate_id_col": "user_id",
            "event_type_col": "event_type",
            "payload_col": "props",
        }
    )
    kafka_rows = _Collector()
    program, sinks, policy, _ = compile_reference_pipeline(ref, transports={"ok": kafka_rows})
    df = program(spark, sf_dir)
    out = df.filter(F.coalesce(F.col("routing.raw_payload"), F.lit(False))).limit(20).cache()
    n = out.count()
    assert n > 0
    fan_out_batch(out, 0, sinks, policy=policy)
    assert len(kafka_rows) == n
    for r in kafka_rows:
        body = json.loads(r["value"])
        assert "payload" not in body  # raw payload, not the envelope
        assert "." in r["topic"] and not r["topic"].startswith("cdc.")


def test_allowlist_condition_matches_python_model(spark):
    rows = [("db1", "orders"), ("db1", "order_items"), ("db2", "orders"), ("x", "y")]
    df = spark.createDataFrame(
        [((d, t),) for d, t in rows], "source struct<db:string,table:string>"
    )
    from deltaforge_spark.patterns import AllowList

    for pats in ([], ["db1.order%"], ["*.orders"], ["db2.*", "x.y"], ["orders"]):
        allow = AllowList(pats)
        got = {
            (r["source"]["db"], r["source"]["table"])
            for r in df.filter(allowlist_condition(allow)).collect()
        }
        want = {(d, t) for d, t in rows if allow.matches(d, t)}
        assert got == want, pats


def test_envelope_wire_parity_with_docs(spark, sf_dir):
    """Byte-level layout of all three envelopes matches the reference's
    documented output (docs/src/envelopes.md): explicit nulls
    ("before": null on inserts), the literal schema:null wrapper, and
    the CloudEvents field set/order incl. datacontenttype."""
    from deltaforge_spark.operators.envelopes import (
        envelope_cloudevents,
        envelope_debezium,
        envelope_native,
    )
    from deltaforge_spark.sources import change_feed

    ev = change_feed(spark, sf_dir).filter(F.col("op") == "c").limit(1)

    native = json.loads(envelope_native(ev).collect()[0]["value"])
    assert native["before"] is None  # emitted, not dropped
    assert list(native)[:5] == ["before", "after", "source", "op", "ts_ms"]

    raw = envelope_debezium(ev).collect()[0]["value"]
    assert raw.startswith('{"schema":null,"payload":')
    assert json.loads(raw)["payload"]["before"] is None

    ce = json.loads(
        envelope_cloudevents(ev, type_prefix="com.example.cdc").collect()[0]["value"]
    )
    assert list(ce) == [
        "specversion", "id", "source", "type", "time",
        "datacontenttype", "subject", "data",
    ]
    assert ce["specversion"] == "1.0"
    assert ce["datacontenttype"] == "application/json"
    assert ce["type"] == "com.example.cdc.created"
    assert ce["source"].startswith("deltaforge/") and ce["subject"] in ce["source"]
    assert ce["time"].endswith("Z") and "." in ce["time"]
    assert ce["data"]["before"] is None and ce["data"]["op"] == "c"


def test_reference_spec_streaming_run(spark, sf_dir, tmp_path):
    """A reference-vocabulary spec runs as a Structured Streaming
    pipeline end-to-end: transform chain + per-sink envelopes inside
    foreachBatch, per-sink offsets committed (the coordinator loop of
    runner/src/coordinator.rs mapped onto micro-batches)."""
    from deltaforge_spark.plans.refspec import reference_streaming_pipeline
    from deltaforge_spark.sinks.clients import read_spool, spool_sink_factory
    from deltaforge_spark.sources import change_feed

    feed_dir = str(tmp_path / "feed")
    change_feed(spark, sf_dir).limit(40).write.mode("append").parquet(feed_dir)
    schema = spark.read.parquet(feed_dir).schema

    ref = parse_reference_spec(__import__("yaml").safe_load(expand_env(TESTDATA_SPEC)))
    kafka_rows = _Collector()
    spool_dir = str(tmp_path / "redis")
    offsets_path = str(tmp_path / "offsets.json")

    pipe = reference_streaming_pipeline(
        ref,
        source=lambda s: s.readStream.schema(schema).parquet(feed_dir),
        transports={"k1": kafka_rows, "r1": spool_sink_factory(spool_dir)},
        checkpoint_dir=str(tmp_path / "ckpt"),
        offsets_path=offsets_path,
    )
    q = pipe.start(spark, trigger_available_now=True)
    q.awaitTermination(120)

    assert len(kafka_rows) == 40
    assert {r["topic"] for r in kafka_rows} == {"cdc.testdb.events"}
    assert len(read_spool(spool_dir)) == 40
    offsets = json.load(open(offsets_path))
    assert offsets["k1"] >= 0 and offsets["r1"] >= 0  # both sinks committed


def test_sharding_hint_lowers_to_hash_repartition(spark, sf_dir):
    ref = parse_reference_spec(__import__("yaml").safe_load(expand_env(TESTDATA_SPEC)))
    ref.sharding = {"mode": "key", "count": 8, "key": "event_id"}
    program, _, _, _ = compile_reference_pipeline(ref, transports={})
    plan = program(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(event_id" in plan and ", 8)" in plan


def test_source_snapshot_and_position_config_parse():
    """PostgresSrcCfg depth: snapshot block, start_position forms,
    on_schema_drift policy (lib.rs:157-186, snapshot_cfg.rs:6-40)."""
    spec = {
        "apiVersion": "deltaforge/v1",
        "metadata": {"name": "p", "tenant": "t"},
        "spec": {
            "source": {
                "type": "postgres",
                "config": {
                    "id": "pg",
                    "dsn": "postgres://x",
                    "slot": "df_slot",
                    "publication": "df_pub",
                    "tables": ["public.orders"],
                    "start_position": {"lsn": "0/16B6C50"},
                    "on_schema_drift": "halt",
                    "snapshot": {
                        "mode": "always",
                        "chunk_size": 5000,
                        "intra_table_parallel": True,
                    },
                },
            },
            "sinks": [],
        },
    }
    ref = parse_reference_spec(spec)
    s = ref.source
    assert s.start_position == "0/16B6C50"
    assert s.on_schema_drift == "halt"
    assert s.snapshot.mode == "always" and s.snapshot.chunk_size == 5000
    assert s.snapshot.intra_table_parallel is True
    assert s.snapshot.max_parallel_tables == 8  # reference default
    assert s.extra["slot"] == "df_slot" and s.extra["publication"] == "df_pub"

    bad = {**spec, "spec": {**spec["spec"], "source": {"type": "postgres", "config": {"id": "x", "snapshot": {"mode": "sometimes"}}}}}
    with pytest.raises(UnsupportedSpecError):
        parse_reference_spec(bad)
    bad2 = {**spec, "spec": {**spec["spec"], "source": {"type": "postgres", "config": {"id": "x", "on_schema_drift": "panic"}}}}
    with pytest.raises(UnsupportedSpecError):
        parse_reference_spec(bad2)


def test_kafka_sink_avro_encoding(spark, sf_dir):
    """Per-sink `encoding: avro` produces Confluent-framed Avro binary
    values with the subject registered through the injected registry
    (sinks_cfg.rs encoding block → avro.rs wire format)."""
    from deltaforge_spark.sinks.avro_schema import InMemoryRegistry
    from deltaforge_spark.sinks.foreach import fan_out_batch

    spec = TESTDATA_SPEC.replace("encoding: json", "encoding: avro")
    ref = parse_reference_spec(__import__("yaml").safe_load(expand_env(spec)))
    ref.sinks = [s for s in ref.sinks if s.id == "k1"]
    kafka_rows = _Collector()
    reg = InMemoryRegistry()
    program, sinks, policy, _ = compile_reference_pipeline(
        ref, transports={"k1": kafka_rows, "k1:registry": reg}
    )
    df = program(spark, sf_dir).limit(10).cache()
    n = df.count()
    fan_out_batch(df, 0, sinks, policy=policy)
    assert len(kafka_rows) == n
    v = bytes(kafka_rows[0]["value"])
    assert v[0] == 0  # Confluent magic byte
    schema_id = int.from_bytes(v[1:5], "big")
    assert schema_id >= 1 and reg.posts >= 1
    assert any(s.endswith("-value") for s in reg.subjects)  # topic_name strategy


def test_kafka_avro_without_registry_is_loud():
    spec = TESTDATA_SPEC.replace("encoding: json", "encoding: avro")
    ref = parse_reference_spec(__import__("yaml").safe_load(expand_env(spec)))
    with pytest.raises(UnsupportedSpecError):
        compile_reference_pipeline(ref, transports={})


@needs_reference("/root/reference/docs/src/examples")
def test_all_cookbook_specs_compile():
    """The 9 cookbook pipelines embedded in the reference's docs
    (docs/src/examples/*.md) parse and lower too — the complete public
    config surface a migrating user would bring, not just examples/."""
    import re

    import yaml

    found = 0
    for path in sorted(glob.glob("/root/reference/docs/src/examples/*.md")):
        for block in re.findall(r"```yaml\n(.*?)```", open(path).read(), re.S):
            if "apiVersion" not in block:
                continue
            ref = parse_reference_spec(yaml.safe_load(expand_env(block)))
            program, sinks, policy, _ = compile_reference_pipeline(
                ref, js_policy="identity", transports={}
            )
            assert callable(program) and len(sinks) == len(ref.sinks)
            found += 1
    assert found == 9


def test_per_sink_filter_lowers(spark, sf_dir):
    """SinkFilter (sinks_cfg.rs:911-953): a synthetic_only sink only
    receives processor-created events."""
    from deltaforge_spark.sinks.foreach import fan_out_batch

    ref = parse_reference_spec(__import__("yaml").safe_load(expand_env(TESTDATA_SPEC)))
    ref.sinks = [s for s in ref.sinks if s.id == "k1"]
    ref.sinks[0].config["filter"] = {"synthetic_only": True}
    kafka_rows = _Collector()

    def fanout_hook(df):
        # a processor that emits one synthetic metrics event per batch
        one = df.limit(1).withColumn("synthetic", F.lit("metrics-proc"))
        return df.unionByName(one)

    ref.processors.append({"type": "javascript", "id": "metrics", "inline": "x"})
    program, sinks, policy, _ = compile_reference_pipeline(
        ref, transports={"k1": kafka_rows}, js_equivalents={"metrics": fanout_hook}
    )
    df = program(spark, sf_dir).cache()
    total = df.count()
    assert df.filter(F.col("synthetic").isNotNull()).count() == 1
    fan_out_batch(df, 0, sinks, policy=policy)
    assert len(kafka_rows) == 1  # only the synthetic event delivered
    assert total > 1
