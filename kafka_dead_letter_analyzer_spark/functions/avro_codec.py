"""Pure-Python Avro binary codec + Confluent wire framing for the S2
decode cascade's top tier.

Reference behavior: the analyzer's primary input encoding is
Schema-Registry Avro, auto-detected per record by BruteForceSerde
(reference DeadLetterAnalyzerTopology.java:102-105, README.md:35,44).
This module is the engine's one Avro tier, with no spark-avro jar
needed: a spec-compliant subset of the Avro 1.11 binary encoding
(https://avro.apache.org/docs/1.11.1/specification/): zigzag-varint
ints/longs, length-prefixed UTF-8 strings, union-index prefixes, in-order
record fields. Only the types the DeadLetter schema uses are implemented
(null / int / long / string / record / [null, T] unions) — anything else
raises loudly rather than mis-decoding.

The codec is pure (bytes in, dict out; no Spark, no I/O) so the wire
layout is property-testable byte-exactly (tests/test_avro_wire.py) and the
same functions run inside Arrow-batched pandas UDFs
(streaming/kafka.py::decode_kafka_records).

Confluent wire format: 1 magic byte ``0x00`` + 4-byte big-endian schema id
+ Avro binary payload (public Confluent serde documentation); the decode
cascade's JVM-side prefilter is ``streaming/kafka.py::_is_framed``.
"""

from __future__ import annotations

import io
import json
import struct

__all__ = [
    "dead_letter_avro_schema",
    "full_dead_letter_with_context_avro_schema",
    "full_error_statistics_avro_schema",
    "error_example_avro_schema",
    "coerce_record",
    "avro_encode",
    "avro_decode",
    "encode_bytes",
    "decode_bytes",
    "confluent_frame",
    "confluent_unframe",
]


def dead_letter_avro_schema() -> str:
    """The upstream DeadLetter writer schema (bakdata error-handling-avro,
    reference build.gradle.kts:43-44), reconstructed from the field set and
    optionality evidenced by the reference parsers (SURVEY.md §1.4):
    ``description``/``cause`` required, everything else ``["null", T]``
    with null default (the Java builders write null as union branch 0)."""

    def opt(t):  # nullable union, null first (matches SpecificRecord builders)
        return ["null", t]

    return json.dumps(
        {
            "type": "record",
            "name": "DeadLetter",
            "namespace": "com.bakdata.kafka",
            "fields": [
                {"name": "input_value", "type": opt("string"), "default": None},
                {"name": "partition", "type": opt("int"), "default": None},
                {"name": "topic", "type": opt("string"), "default": None},
                {"name": "offset", "type": opt("long"), "default": None},
                {"name": "description", "type": "string"},
                {
                    "name": "cause",
                    "type": {
                        "type": "record",
                        "name": "ErrorDescription",
                        "fields": [
                            {"name": "error_class", "type": opt("string"), "default": None},
                            {"name": "message", "type": opt("string"), "default": None},
                            {"name": "stack_trace", "type": opt("string"), "default": None},
                        ],
                    },
                },
                {
                    "name": "input_timestamp",
                    "type": opt({"type": "long", "logicalType": "timestamp-millis"}),
                    "default": None,
                },
            ],
        }
    )


def full_dead_letter_with_context_avro_schema() -> str:
    """Writer schema for the main output record (O1) — field set and
    types from the reference's sink schema
    (src/main/avro/sink/FullDeadLetterWithContext.avsc): all fields
    required; ``dead_letter`` embeds the DeadLetter record (inlined here
    — a self-contained JSON schema instead of an Avro named-type
    reference)."""
    return json.dumps(
        {
            "type": "record",
            "name": "FullDeadLetterWithContext",
            "namespace": "com.bakdata.kafka",
            "fields": [
                {"name": "key", "type": "string"},
                {"name": "offset", "type": "long"},
                {"name": "partition", "type": "int"},
                {"name": "timestamp", "type": "string"},
                {"name": "dead_letter", "type": json.loads(dead_letter_avro_schema())},
                {"name": "topic", "type": "string"},
                {"name": "type", "type": "string"},
            ],
        }
    )


def full_error_statistics_avro_schema() -> str:
    """Writer schema for the stats output record (O2) — the one sink the
    reference serializes as PLAIN SpecificAvro, no large-message wrap
    (DeadLetterAnalyzerTopology.java:152). Field set from
    src/main/avro/sink/FullErrorStatistics.avsc: all required."""
    return json.dumps(
        {
            "type": "record",
            "name": "FullErrorStatistics",
            "namespace": "com.bakdata.kafka",
            "fields": [
                {"name": "count", "type": "int"},
                {"name": "created", "type": "string"},
                {"name": "updated", "type": "string"},
                {"name": "topic", "type": "string"},
                {"name": "type", "type": "string"},
            ],
        }
    )


def error_example_avro_schema() -> str:
    """Writer schema for the examples output record (O3) — field sets
    from src/main/avro/sink/ErrorExample.avsc and its embedded
    ExampleDeadLetterWithContext.avsc (FullDeadLetterWithContext minus
    topic/type, which live on the outer record)."""
    return json.dumps(
        {
            "type": "record",
            "name": "ErrorExample",
            "namespace": "com.bakdata.kafka",
            "fields": [
                {
                    "name": "example",
                    "type": {
                        "type": "record",
                        "name": "ExampleDeadLetterWithContext",
                        "fields": [
                            {"name": "key", "type": "string"},
                            {"name": "offset", "type": "long"},
                            {"name": "partition", "type": "int"},
                            {"name": "timestamp", "type": "string"},
                            {
                                "name": "dead_letter",
                                "type": json.loads(dead_letter_avro_schema()),
                            },
                        ],
                    },
                },
                {"name": "topic", "type": "string"},
                {"name": "type", "type": "string"},
            ],
        }
    )


def _is_timestamp_millis(schema) -> bool:
    return (
        isinstance(schema, dict)
        and schema.get("type") == "long"
        and schema.get("logicalType") == "timestamp-millis"
    )


def coerce_record(value, schema):
    """Schema-driven repair of a JSON rendering before binary encode —
    the two lossy spots of the ``to_json`` path the Kafka sinks use:

    - ``to_json`` DROPS null fields, so every missing record field whose
      union admits null is restored as explicit None (a missing
      REQUIRED field still raises — silently defaulting it would forge
      data);
    - Spark renders timestamps as ISO-8601 strings while Avro
      ``timestamp-millis`` is physically a long — ISO strings (and
      ``datetime`` objects, for direct-dict callers) become epoch
      millis."""
    if isinstance(schema, list):
        if value is None:
            return None
        for s in schema:
            t = s if isinstance(s, str) else s.get("type", s)
            if t != "null":
                return coerce_record(value, s)
        return value
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "record":
        out = {}
        for f in schema["fields"]:
            name = f["name"]
            if name in value:
                out[name] = coerce_record(value[name], f["type"])
            elif isinstance(f["type"], list) and "null" in f["type"]:
                out[name] = None
            else:
                raise ValueError(
                    f"record missing required field {name!r} for "
                    f"{schema.get('name', 'record')}"
                )
        return out
    if _is_timestamp_millis(schema):
        if isinstance(value, str):
            import datetime as _dt

            s = value.replace("Z", "+00:00")
            dt = _dt.datetime.fromisoformat(s)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=_dt.timezone.utc)
            return int(dt.timestamp() * 1000)
        if hasattr(value, "timestamp"):
            return int(value.timestamp() * 1000)
    return value


# ---------------------------------------------------------------------------
# Avro binary primitives (spec §"Binary Encoding")
# ---------------------------------------------------------------------------


def _write_long(out: io.BytesIO, n: int) -> None:
    n = (n << 1) ^ (n >> 63)  # zigzag
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


def _read_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        read = buf.read(1)
        if not read:
            raise EOFError("truncated Avro varint")
        b = read[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # un-zigzag


def _branch_for(value, union: list):
    """Union branch by the value's RUNTIME type (not first-non-null —
    a union with several non-null branches, e.g. ["null","string",
    {timestamp-millis}], must encode a long under the long branch)."""
    for i, s in enumerate(union):
        t = s if isinstance(s, str) else s.get("type", s)
        if value is None and t == "null":
            return i, s
        if value is not None:
            if t in ("int", "long") and isinstance(value, int):
                return i, s
            if t == "string" and isinstance(value, str):
                return i, s
            if t == "record" and isinstance(value, dict):
                return i, s
    raise ValueError(f"no union branch for {value!r} in {union}")


def avro_encode(out: io.BytesIO, value, schema) -> None:
    """Write ``value`` to ``out`` per the (JSON-decoded) writer schema."""
    if isinstance(schema, list):  # union: long branch index, then value
        idx, branch = _branch_for(value, schema)
        _write_long(out, idx)
        return avro_encode(out, value, branch)
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return None
    if t in ("int", "long"):  # same varint encoding; logicalType irrelevant
        return _write_long(out, int(value))
    if t == "string":
        raw = value.encode("utf-8")
        _write_long(out, len(raw))
        out.write(raw)
        return None
    if t == "record":
        for f in schema["fields"]:
            avro_encode(out, value[f["name"]], f["type"])
        return None
    raise NotImplementedError(f"avro type {t!r}")


def avro_decode(buf: io.BytesIO, schema):
    """Read one value from ``buf`` per the (JSON-decoded) writer schema."""
    if isinstance(schema, list):
        idx = _read_long(buf)
        if not 0 <= idx < len(schema):
            raise ValueError(f"union index {idx} out of range")
        return avro_decode(buf, schema[idx])
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return None
    if t in ("int", "long"):
        return _read_long(buf)
    if t == "string":
        n = _read_long(buf)
        raw = buf.read(n)
        if len(raw) != n:
            raise EOFError("truncated Avro string")
        return raw.decode("utf-8")
    if t == "record":
        return {f["name"]: avro_decode(buf, f["type"]) for f in schema["fields"]}
    raise NotImplementedError(f"avro type {t!r}")


def encode_bytes(record: dict, schema) -> bytes:
    out = io.BytesIO()
    avro_encode(out, record, schema)
    return out.getvalue()


def decode_bytes(payload: bytes, schema) -> dict:
    buf = io.BytesIO(payload)
    rec = avro_decode(buf, schema)
    if buf.read(1):
        raise ValueError("trailing bytes after Avro record")
    return rec


# ---------------------------------------------------------------------------
# Confluent Schema-Registry wire framing
# ---------------------------------------------------------------------------


def confluent_frame(payload: bytes, schema_id: int = 1) -> bytes:
    """magic 0x00 + 4-byte big-endian schema id + payload."""
    return b"\x00" + struct.pack(">I", schema_id) + payload


def confluent_unframe(value: bytes) -> tuple[int, bytes] | None:
    """Return ``(schema_id, payload)`` if ``value`` is Confluent-framed,
    else None (not framed != error: the brute-force cascade falls through)."""
    if value is None or len(value) <= 5 or value[0] != 0:
        return None
    return struct.unpack(">I", value[1:5])[0], value[5:]
