"""Kafka edge: source decode (S1/S2) and sink encode (O1-O4).

Reference behavior being reproduced:

- S1 pattern subscription: the app consumes EVERY topic matching a regex
  (default ``.*-dead-letters``) as one merged stream
  (DeadLetterAnalyzerTopology.java:161-162, README.md:36,43). Spark:
  ``readStream.format("kafka").option("subscribePattern", ...)`` with
  ``includeHeaders=true`` — the source exposes topic/partition/offset/
  timestamp/headers as columns, which is exactly the metadata the
  reference's ContextEnricher pulls from RecordMetadata.
- S2 brute-force deserialization: per-record format auto-detection
  (BruteForceSerde, DeadLetterAnalyzerTopology.java:102-105): try
  Schema-Registry Avro, fall back to string/bytes. Spark equivalent: a
  ``coalesce`` cascade of parse attempts per record — Confluent-wire Avro
  (the engine's own Arrow-batched Python codec, functions/avro_codec.py),
  then JSON, then the raw UTF-8 text. Parsing is per-record
  fallible-by-construction (null on miss), so no record can kill the
  query — same guarantee BruteForceSerde provides.

Sinks write ``kafka_key`` as the record key and the JSON rendering of the
sink struct as the value, or Confluent-framed Avro (the reference's
Schema-Registry encoding). With a ``large_message_threshold`` set,
``kafka_sink_projection`` blob-backs oversized values through the
claim-check wire formats of ``streaming/large_message.py``.

Everything here is a column program over the Kafka source's fixed schema —
each function also works on a *batch* DataFrame of the same shape, which is
how the unit tests exercise it without a broker.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_dead_letter_analyzer_spark.schemas import DEAD_LETTER

DEFAULT_INPUT_PATTERN = ".*-dead-letters"  # README.md:43


def _iso_millis(ms: int) -> str:
    from datetime import datetime, timezone

    dt = datetime.fromtimestamp(ms // 1000, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S") + f".{ms % 1000:03d}+00:00"


def _normalize_registry(registry) -> dict[int, dict]:
    """schema-id -> writer schema, accepting JSON text or parsed dicts.

    This is the engine's stand-in for the reference's Schema-Registry
    *lookup* (BruteForceSerde resolves the writer schema named by the
    4-byte id in the Confluent frame; README.md:35). The registry
    SERVICE is a declared non-goal (SURVEY.md §7.5) — the map reproduces
    the observable semantics: any registered writer schema decodes and
    JSON-renders, ids the map doesn't know fall back to attempting the
    DeadLetter schema (the analyzer's primary input type), and a decode
    miss falls through the cascade."""
    import json as _json

    out = {}
    for k, v in (registry or {}).items():
        out[int(k)] = _json.loads(v) if isinstance(v, str) else v
    return out


def brute_force_json_udf(registry: dict | None = None):
    """Arrow-batched brute-force Avro tier: Confluent-framed bytes ->
    compact JSON text of the decoded record (None on any miss — the
    cascade contract: a miss is null, never an exception).

    Reference parity: BruteForceSerde + ``ErrorUtil.toString`` render an
    Avro record as JSON — asserted ``{"id":1}`` for an Avro KEY at
    DeadLetterAnalyzerTopologyTest.java:636-675 and ``{"id":0}`` for a
    non-DeadLetter Avro VALUE at :409. Compact separators match Avro's
    record JSON rendering. ``timestamp-millis`` fields are ISO-rendered
    so the same text feeds JVM ``from_json(DEAD_LETTER)`` (timestamp
    parsing stays JVM-side) — one UDF output serves both the struct tier
    and the P5 stringification.

    Scale: callers prefilter JVM-side (``_is_framed``: magic byte +
    length) so only framed bytes cross the Arrow boundary."""
    import json as _json

    from kafka_dead_letter_analyzer_spark.functions import avro_codec

    reg = _normalize_registry(registry)
    dl_schema = _json.loads(avro_codec.dead_letter_avro_schema())

    def _branch_matches(value, s) -> bool:
        # runtime-type dispatch over the codec's supported subset
        # (null/int/long/string/record): a union with several non-null
        # branches must render under the branch the VALUE came from —
        # the decoder erases the branch index, but within this subset
        # the Python type recovers it unambiguously.
        t = s if isinstance(s, str) else s.get("type", s)
        if t == "null":
            return value is None
        if t in ("int", "long"):
            return isinstance(value, int)
        if t == "string":
            return isinstance(value, str)
        if t == "record":
            return isinstance(value, dict)
        return False

    def _render(value, schema):
        if isinstance(schema, list):  # union: render by the value's branch
            if value is None:
                return None
            branch = next(
                (s for s in schema if _branch_matches(value, s)),
                None,
            )
            if branch is None:  # unrepresentable: fall back, render raw
                return value
            return _render(value, branch)
        if isinstance(schema, dict):
            t = schema["type"]
            if t == "record":
                return {
                    f["name"]: _render(value[f["name"]], f["type"])
                    for f in schema["fields"]
                }
            if t == "long" and schema.get("logicalType") == "timestamp-millis":
                return None if value is None else _iso_millis(value)
        return value

    @F.pandas_udf("string")
    def decode(values: pd.Series) -> pd.Series:
        out = []
        for v in values:
            s = None
            if v is not None:
                try:
                    framed = avro_codec.confluent_unframe(bytes(v))
                    if framed is not None:
                        schema_id, payload = framed
                        schema = reg.get(schema_id, dl_schema)
                        rec = avro_codec.decode_bytes(payload, schema)
                        s = _json.dumps(
                            _render(rec, schema), separators=(",", ":")
                        )
                except Exception:
                    s = None
            out.append(s)
        return pd.Series(out, dtype=object)

    return decode


def avro_wire_encode_generic_udf(schema_json: str, schema_id: int):
    """Arrow-batched ENCODER for an arbitrary registered writer schema
    (fixtures for the multi-schema tier — e.g. the reference e2e's
    ``TestRecord`` keys/values): JSON rendering of a record ->
    Confluent-framed Avro binary under ``schema_id``. Null in -> null
    out; an unencodable record yields NULL, never a task failure."""
    import json as _json

    from kafka_dead_letter_analyzer_spark.functions import avro_codec

    schema = _json.loads(schema_json)

    @F.pandas_udf("binary")
    def encode(js: pd.Series) -> pd.Series:
        out = []
        for v in js:
            if v is None:
                out.append(None)
                continue
            try:
                out.append(
                    avro_codec.confluent_frame(
                        avro_codec.encode_bytes(_json.loads(v), schema),
                        schema_id,
                    )
                )
            except Exception:
                out.append(None)
        return pd.Series(out, dtype=object)

    return encode


def avro_wire_encode_udf():
    """Arrow-batched ENCODER (tests + fixtures + the declared
    ``s2_avro_wire`` query): JSON rendering of a DeadLetter — with
    ``input_timestamp`` as epoch MILLIS (Avro timestamp-millis' physical
    type) — to Confluent-framed Avro binary. Null in -> null out."""
    import json as _json

    from kafka_dead_letter_analyzer_spark.functions import avro_codec

    schema = _json.loads(avro_codec.dead_letter_avro_schema())

    @F.pandas_udf("binary")
    def encode(js: pd.Series) -> pd.Series:
        out = []
        for v in js:
            if v is None:
                out.append(None)
                continue
            # per-record guard: a record missing required non-null fields
            # (to_json drops null keys, so e.g. a null description
            # vanishes) must yield NULL, not crash the whole task
            try:
                rec = _json.loads(v)
                rec.setdefault("cause", {})
                for k in ("input_value", "partition", "topic", "offset",
                          "input_timestamp"):
                    rec.setdefault(k, None)
                for k in ("error_class", "message", "stack_trace"):
                    rec["cause"].setdefault(k, None)
                out.append(
                    avro_codec.confluent_frame(
                        avro_codec.encode_bytes(rec, schema)
                    )
                )
            except Exception:
                out.append(None)
        return pd.Series(out, dtype=object)

    return encode


# ---------------------------------------------------------------------------
# S2: the decode cascade, and the full Kafka-record -> RAW_ENVELOPE program
# ---------------------------------------------------------------------------


def _is_dead_letter(parsed: Column) -> Column:
    """F1's type test on a parse attempt: a struct only counts as a
    DeadLetter if its required fields materialized (description + cause,
    SURVEY.md §1.4) — guards against JSON that parses but isn't the shape."""
    return parsed.isNotNull() & parsed["description"].isNotNull() & parsed[
        "cause"
    ].isNotNull()


def _is_framed(col_name: str) -> Column:
    """JVM-side Confluent-frame prefilter (magic 0x00 + 4-byte schema id):
    only framed bytes may enter an Arrow->Python decode round trip."""
    return (F.length(col_name) > 5) & (
        F.expr(f"substring({col_name}, 1, 1)") == F.lit(bytes([0]))
    )


def decode_kafka_records(
    kafka_df: DataFrame,
    *,
    use_avro: bool = True,
    registry: dict | None = None,
) -> DataFrame:
    """Kafka source rows -> RAW_ENVELOPE (S2 brute-force cascade).

    Input schema is the Kafka source's fixed shape: ``key binary,
    value binary, headers array<struct<key:string,value:binary>>, topic,
    partition, offset, timestamp``.

    VALUE cascade per record (each attempt null on miss, never throwing):
    1. Confluent-wire Avro, decoded by the engine's Arrow-batched codec
       (functions/avro_codec.py, :func:`brute_force_json_udf`).
       ``use_avro=False`` turns the tier off (inputs whose records are
       never Avro skip the UDF cost).
       ``registry`` (schema-id -> writer schema JSON) adds multi-schema
       Schema-Registry semantics: a framed value whose id maps to a
       NON-DeadLetter schema still JSON-renders into ``value_text`` — so
       it surfaces as ``input_value`` through the header dialects exactly
       like the reference's ``{"id":0}``
       (DeadLetterAnalyzerTopologyTest.java:409). Unknown ids attempt the
       DeadLetter schema (the analyzer's primary input type).
    2. JSON object matching the DeadLetter shape (permissive
       ``from_json``).
    3. Raw UTF-8 text — ``value_text`` is the Avro tier's JSON rendering
       when it hit, else the raw text (P5 stringification source).

    KEY cascade: the reference applies BruteForceSerde to keys too
    (DeadLetterAnalyzerTopology.java:102-105) — ``shouldReadAvroKey``
    (DeadLetterAnalyzerTopologyTest.java:636-675) requires an
    Avro-encoded key to surface as ``{"id":1}`` in context.key, K4, and
    the example. Same tiers: framed Avro -> JSON render, else UTF-8 cast.
    Off (plain cast) when ``use_avro=False``.

    Builds the plan only: nothing runs on the session here.
    """
    if not isinstance(use_avro, bool):
        raise TypeError(f"use_avro must be True or False, got {use_avro!r}")
    value_text = F.col("value").cast("string")
    # Staged projections: each parse attempt gets its own Project, so the
    # validity predicate (3 references) and the value (a 4th) read one
    # computed column — inlined, the parse would re-run per reference
    # (subexpression elimination skips conditional branches). This holds
    # only while no predicate over these columns is pushed below the
    # Projects: a pushed Filter inlines them, and a Python decode in it is
    # planned as a second ArrowEvalPython over the scan (see the
    # explode_outer in plans.topology.route_dead_letters).
    parse_cols = {"_json": F.from_json(value_text, DEAD_LETTER)}
    if use_avro:
        # One decoder UDF serves both columns; the JVM prefilter keeps
        # every non-framed key/value out of the Arrow round trip.
        decode = brute_force_json_udf(registry)
        parse_cols["_key_json"] = decode(F.when(_is_framed("key"), F.col("key")))
        parse_cols["_avro_json"] = decode(
            F.when(_is_framed("value"), F.col("value"))
        )

    parsed = kafka_df.select(
        "topic", "partition", "offset", "timestamp", "key", "headers",
        value_text.alias("value_text"),
        *[c.alias(name) for name, c in parse_cols.items()],
    )
    attempts = []
    if use_avro:
        # struct-ify the Avro tier's JSON in its own Project (referenced
        # 4x downstream), and fold the rendering into the text tier
        parsed = parsed.withColumn(
            "_avro", F.from_json(F.col("_avro_json"), DEAD_LETTER)
        ).withColumn(
            "value_text", F.coalesce(F.col("_avro_json"), F.col("value_text"))
        )
        attempts.append(F.when(_is_dead_letter(F.col("_avro")), F.col("_avro")))
        key_out = F.coalesce(F.col("_key_json"), F.col("key").cast("string"))
    else:
        key_out = F.col("key").cast("string")
    attempts.append(F.when(_is_dead_letter(F.col("_json")), F.col("_json")))

    return parsed.select(
        F.col("topic"),
        F.col("partition").cast("int").alias("partition"),
        F.col("offset").cast("long").alias("offset"),
        F.col("timestamp"),
        key_out.alias("key"),
        F.coalesce(*attempts).alias("value_deadletter"),
        F.col("value_text"),
        F.col("headers"),
    )


def read_dead_letter_stream(
    spark: SparkSession,
    brokers: str,
    input_pattern: str = DEFAULT_INPUT_PATTERN,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S1: pattern-subscribe to every matching topic, headers included,
    decoded to RAW_ENVELOPE. Requires the spark-sql-kafka package."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribePattern", input_pattern)
        .option("includeHeaders", "true")
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
        .load()
    )
    return decode_kafka_records(raw)


# ---------------------------------------------------------------------------
# Sinks: kafka-record projection + writeStream wiring
# ---------------------------------------------------------------------------


def avro_sink_encode_udf(schema_json: str, schema_id: int = 1):
    """Arrow-batched STRICT encoder for the sink path: JSON rendering of
    a sink record -> Confluent-framed Avro binary under the given writer
    schema. ``coerce_record`` first restores the nulls ``to_json``
    dropped and converts ISO timestamps to epoch millis
    (timestamp-millis' physical long).

    Strict on purpose — unlike the READ-side brute-force cascade (which
    nulls misses and falls through), a sink record the writer schema
    cannot encode is a bug, and the reference's SpecificAvroSerde throws
    there too. Null in -> null out (tombstone passthrough)."""
    import json as _json

    from kafka_dead_letter_analyzer_spark.functions import avro_codec

    schema = _json.loads(schema_json)

    @F.pandas_udf("binary")
    def encode(js: pd.Series) -> pd.Series:
        out = []
        for v in js:
            if v is None:
                out.append(None)
                continue
            rec = avro_codec.coerce_record(_json.loads(v), schema)
            out.append(
                avro_codec.confluent_frame(
                    avro_codec.encode_bytes(rec, schema), schema_id
                )
            )
        return pd.Series(out, dtype=object)

    return encode


def _infer_sink_avro_schema(payload_cols: list, single_struct: bool) -> str:
    """Writer schema for a sink frame, inferred from its column set (the
    four O1-O4 shapes are disjoint): the bare DeadLetter (O4, single
    struct), FullDeadLetterWithContext (O1), FullErrorStatistics (O2),
    ErrorExample (O3)."""
    from kafka_dead_letter_analyzer_spark.functions import avro_codec

    cols = set(payload_cols)
    if single_struct:
        return avro_codec.dead_letter_avro_schema()
    if cols == {"key", "offset", "partition", "timestamp", "dead_letter",
                "topic", "type"}:
        return avro_codec.full_dead_letter_with_context_avro_schema()
    if cols == {"count", "created", "updated", "topic", "type"}:
        return avro_codec.full_error_statistics_avro_schema()
    if cols == {"example", "topic", "type"}:
        return avro_codec.error_example_avro_schema()
    raise ValueError(
        f"cannot infer a sink Avro schema from columns {sorted(cols)}; "
        "pass avro_schema= explicitly"
    )


def kafka_sink_projection(
    sink_df: DataFrame,
    key_col: str = "kafka_key",
    value_format: str = "json",
    avro_schema: str | None = None,
    schema_id: int = 1,
    large_message_threshold: int | None = None,
    large_message_dialect: str = "headers",
    blob_dir: str = "/tmp/large-messages",
    uri_prefix: str = "file://",
) -> DataFrame:
    """Project a sink frame to the Kafka writer contract: ``key`` = the
    reference's derived document key (K1/K2/K4), ``value`` = the encoded
    sink *record* (O1-O4 payloads).

    ``value_format="json"`` (default) emits the JSON rendering.
    ``value_format="avro"`` emits Confluent-framed Avro binary under the
    reference's writer schemas — inferred from the payload column set
    (the four sink shapes are disjoint) or passed via ``avro_schema`` —
    matching the reference's default SpecificAvro value serde
    (DeadLetterAnalyzerApplication.java:58,64-66). With
    ``large_message_threshold`` set, oversized values are blob-backed in
    the bakdata large-message wire format: ``dialect="headers"``
    (default — the app sets USE_HEADERS_CONFIG=true, so the flag rides a
    Kafka header and the output frame gains a ``headers`` column) or
    ``dialect="bytes"`` (flag byte prepended to the value). The stats
    topic's plain-Avro override (DeadLetterAnalyzerTopology.java:152) is
    simply ``large_message_threshold=None``.

    A payload of several columns is one record with those fields (O1-O3:
    FullDeadLetterWithContext / FullErrorStatistics / ErrorExample). A
    payload that is exactly ONE struct column — the error topic's bare
    DeadLetter (O4, to_error_topic) — is the record itself and is encoded
    UNWRAPPED: ``{"description": ...}``, not ``{"dead_letter": {...}}``.
    The reference serializes the DeadLetter record directly as the error
    topic value (DeadLetterAnalyzerTopology.java:107-111), and
    ``decode_kafka_records`` parses values against the top-level DeadLetter
    schema — wrapping would break the E3 broker feedback loop: re-consumed
    error-topic records would match no dialect and be dropped silently.
    """
    from pyspark.sql.types import StructType

    if value_format not in ("json", "avro"):
        raise ValueError(f"value_format must be json|avro, got {value_format!r}")
    payload_cols = [c for c in sink_df.columns if c != key_col]
    payload_types = {f.name: f.dataType for f in sink_df.schema.fields}
    single_struct = len(payload_cols) == 1 and isinstance(
        payload_types[payload_cols[0]], StructType
    )
    if single_struct:
        js = F.to_json(F.col(payload_cols[0]))
    else:
        js = F.to_json(F.struct(*[F.col(c) for c in payload_cols]))
    if value_format == "json":
        value = js
    else:
        schema_json = avro_schema or _infer_sink_avro_schema(
            payload_cols, single_struct
        )
        value = avro_sink_encode_udf(schema_json, schema_id)(js)
    out = sink_df.select(
        F.col(key_col).cast("string").alias("key"),
        value.alias("value"),
    )
    if large_message_threshold is None:
        return out
    if value_format == "json":
        out = out.withColumn("value", F.col("value").cast("binary"))
    from kafka_dead_letter_analyzer_spark.streaming import large_message as LM

    if large_message_dialect == "headers":
        out = out.withColumn(
            "headers",
            F.array().cast("array<struct<key:string,value:binary>>"),
        )
        return LM.header_encode(
            out,
            threshold=large_message_threshold,
            blob_dir=blob_dir,
            uri_prefix=uri_prefix,
        )
    if large_message_dialect == "bytes":
        return LM.wire_encode(
            out,
            threshold=large_message_threshold,
            blob_dir=blob_dir,
            uri_prefix=uri_prefix,
        )
    raise ValueError(
        f"large_message_dialect must be headers|bytes, got "
        f"{large_message_dialect!r}"
    )


def write_stream_to_kafka(
    sink_df: DataFrame,
    brokers: str,
    topic: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    query_name: str | None = None,
    **serde_kwargs,
):
    """Start a Kafka writeStream for one output (O1-O4).

    The error topic (O4) must match the input pattern so failed records
    re-enter the analyzer — the E3 feedback loop closes through the broker
    (README.md:47-48), exactly like the reference. ``serde_kwargs`` pass
    through to :func:`kafka_sink_projection` (``value_format="avro"``,
    ``large_message_threshold=...`` reproduce the reference's default
    large-message SpecificAvro value serde; Spark's Kafka writer picks up
    the ``headers`` column the header dialect adds).
    """
    return (
        kafka_sink_projection(sink_df, **serde_kwargs)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .queryName(query_name or f"dead-letter-analyzer-{topic}")
        .start()
    )
