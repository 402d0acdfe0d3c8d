"""Avro wire-format validation for the S2 decode cascade's top tier.

The engine decodes Avro with its own spec-subset codec
(functions/avro_codec.py), run as an Arrow-batched pandas UDF — no
spark-avro jar or fastavro needed — so the Avro tier is exercised
end-to-end under Spark in this file:

1. the reconstructed writer schema is valid Avro whose binary encoding
   round-trips golden DeadLetter records (zigzag varints, length-prefixed
   utf8, union-index prefix, in-order record fields —
   https://avro.apache.org/docs/1.11.1/specification/);
2. the exact byte layout is PINNED: reordering fields, flipping a union's
   branch order, or changing a type changes the golden bytes and fails;
3. the Confluent wire framing is magic 0x00 + 4-byte schema id + payload,
   and the cascade's JVM-side prefilter (``_is_framed``) admits a framed
   value whose 5-byte header strips to the payload — checked through
   Spark itself;
4. ``decode_kafka_records`` decodes a REAL framed wire corpus end-to-end
   — valid records parse field-exactly (timestamps to the millisecond),
   corrupt/truncated/unframed values fall through the cascade without
   errors, and the encode UDF -> decode tier round-trip is the identity;
5. poison records mixed into a good Avro backlog fail no output of the
   topology and change none of the good records' rows.

The upstream schema source is bakdata error-handling-avro (reference
build.gradle.kts:43-44); its field set/optionality is evidenced in the
reference parsers (SURVEY.md §1.4) and asserted structurally here.
"""

from __future__ import annotations

import io
import json

import pytest

from kafka_dead_letter_analyzer_spark.functions.avro_codec import (
    avro_decode,
    confluent_frame,
    confluent_unframe,
    dead_letter_avro_schema,
    decode_bytes,
    encode_bytes,
)
from kafka_dead_letter_analyzer_spark.streaming.kafka import (
    avro_wire_encode_udf,
    decode_kafka_records,
)

GOLDEN = {
    "input_value": "bad-value",
    "partition": 3,
    "topic": "my-topic",
    "offset": 42,
    "description": "Could not process",
    "cause": {
        "error_class": "java.lang.RuntimeException",
        "message": "boom",
        "stack_trace": None,
    },
    "input_timestamp": 1704110400000,  # 2024-01-01T12:00:00Z millis
}

MINIMAL = {  # every optional absent — the Java builder's minimum
    "input_value": None,
    "partition": None,
    "topic": None,
    "offset": None,
    "description": "d",
    "cause": {"error_class": None, "message": None, "stack_trace": None},
    "input_timestamp": None,
}


@pytest.fixture(scope="module")
def schema():
    return json.loads(dead_letter_avro_schema())


def test_schema_structure_matches_upstream_evidence(schema):
    assert schema["name"] == "DeadLetter"
    assert schema["namespace"] == "com.bakdata.kafka"
    by_name = {f["name"]: f for f in schema["fields"]}
    assert list(by_name) == [
        "input_value", "partition", "topic", "offset",
        "description", "cause", "input_timestamp",
    ]
    # optionals: ["null", T] with null default (null MUST be branch 0 —
    # that is what the upstream Java builders write for absent fields)
    for name, t in [("input_value", "string"), ("partition", "int"),
                    ("topic", "string"), ("offset", "long")]:
        assert by_name[name]["type"][0] == "null", name
        assert by_name[name]["type"][1] == t, name
        assert by_name[name]["default"] is None, name
    assert by_name["input_timestamp"]["type"][0] == "null"
    assert by_name["input_timestamp"]["type"][1]["logicalType"] == "timestamp-millis"
    # required fields are non-union
    assert by_name["description"]["type"] == "string"
    cause = by_name["cause"]["type"]
    assert cause["type"] == "record" and cause["name"] == "ErrorDescription"
    assert [f["name"] for f in cause["fields"]] == [
        "error_class", "message", "stack_trace"
    ]
    for f in cause["fields"]:
        assert f["type"][0] == "null" and f["type"][1] == "string"


def test_binary_roundtrip_golden_and_minimal(schema):
    for rec in (GOLDEN, MINIMAL):
        payload = encode_bytes(rec, schema)
        assert decode_bytes(payload, schema) == rec


def test_golden_bytes_are_pinned(schema):
    """Byte-exact layout: any field reorder, union flip, or type change in
    the reconstructed schema changes these bytes. Hand-derivable from the
    Avro spec: union index varints, zigzag ints, length-prefixed utf8."""
    payload = encode_bytes(GOLDEN, schema)
    expected = (
        b"\x02" + bytes([2 * len(b"bad-value")]) + b"bad-value"  # union 1, len 9
        + b"\x02\x06"  # partition: union 1, zigzag(3)=6
        + b"\x02" + bytes([2 * len(b"my-topic")]) + b"my-topic"
        + b"\x02\x54"  # offset: union 1, zigzag(42)=84
        + bytes([2 * len(b"Could not process")]) + b"Could not process"
        + b"\x02" + bytes([2 * len(b"java.lang.RuntimeException")])
        + b"java.lang.RuntimeException"
        + b"\x02\x08boom"
        + b"\x00"  # stack_trace: union 0 (null)
        + b"\x02"  # input_timestamp: union 1
    )
    assert payload.startswith(expected)
    # trailing varint = zigzag(1704110400000)
    tail = payload[len(expected):]
    assert avro_decode(io.BytesIO(tail), "long") == GOLDEN["input_timestamp"]
    # minimal record: 4 null-branch markers + "d" + 3 null cause branches
    assert encode_bytes(MINIMAL, schema) == b"\x00" * 4 + b"\x02d" + b"\x00" * 3 + b"\x00"


def test_confluent_framing(schema):
    payload = encode_bytes(GOLDEN, schema)
    framed = confluent_frame(payload, schema_id=17)
    assert framed[0] == 0 and len(framed) == len(payload) + 5
    assert confluent_unframe(framed) == (17, payload)
    # not framed: empty, short, wrong magic
    assert confluent_unframe(b"") is None
    assert confluent_unframe(b"\x00\x00\x00\x00\x01") is None
    assert confluent_unframe(b"\x01" + framed[1:]) is None


def test_confluent_framing_strip_via_spark(spark, schema):
    """The decode cascade's frame prefilter (``_is_framed``) admits a
    Confluent-framed value, and its 5-byte header strips to the Avro
    payload."""
    from pyspark.sql import functions as F

    from kafka_dead_letter_analyzer_spark.streaming.kafka import _is_framed

    payload = encode_bytes(GOLDEN, schema)
    framed = confluent_frame(payload, schema_id=17)
    df = spark.createDataFrame([(bytearray(framed),)], "value binary")
    [row] = df.select(
        F.expr("substring(value, 6, length(value) - 5)").alias("p"),
        _is_framed("value").alias("is_wire"),
    ).collect()
    assert bytes(row["p"]) == payload
    assert decode_bytes(bytes(row["p"]), schema) == GOLDEN
    assert row["is_wire"] is True


# ---------------------------------------------------------------------------
# The EXECUTABLE Avro tier: real wire bytes through decode_kafka_records
# ---------------------------------------------------------------------------


def _kafka_shaped(spark, values: list[bytes | None]):
    rows = [
        (
            bytearray(b"k%d" % i),
            None if v is None else bytearray(v),
            None,
            "t-dead-letters",
            0,
            i,
        )
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(
        rows,
        "key binary, value binary, "
        "headers array<struct<key:string,value:binary>>, "
        "topic string, partition int, offset long",
    )
    from pyspark.sql import functions as F

    return df.withColumn("timestamp", F.timestamp_millis(F.lit(1_700_000_000_000)))


def test_python_tier_decodes_wire_corpus(spark, schema):
    """A mixed corpus — framed Avro (valid), framed-but-corrupt, JSON
    DeadLetter, plain text, null — through the full cascade with the
    Python Avro tier on. Every tier lands where BruteForceSerde would."""
    good = confluent_frame(encode_bytes(GOLDEN, schema), 7)
    minimal = confluent_frame(encode_bytes(MINIMAL, schema), 7)
    truncated = good[:-3]  # truncated varint/string -> decode error -> miss
    json_dl = json.dumps(
        {"description": "via json", "cause": {"error_class": "E"}}
    ).encode()
    plain = b"just text"
    out = decode_kafka_records(
        _kafka_shaped(spark, [good, minimal, truncated, json_dl, plain, None]),
        use_avro=True,
    )
    rows = {r["offset"]: r for r in out.collect()}

    g = rows[0]["value_deadletter"]
    assert g is not None
    assert g["description"] == GOLDEN["description"]
    assert g["input_value"] == GOLDEN["input_value"]
    assert g["partition"] == GOLDEN["partition"]
    assert g["topic"] == GOLDEN["topic"]
    assert g["offset"] == GOLDEN["offset"]
    assert g["cause"]["error_class"] == GOLDEN["cause"]["error_class"]
    assert g["cause"]["message"] == GOLDEN["cause"]["message"]
    assert g["cause"]["stack_trace"] is None
    # timestamp-millis survives to the exact millisecond (UTC session)
    assert int(g["input_timestamp"].timestamp() * 1000) == GOLDEN["input_timestamp"]

    m = rows[1]["value_deadletter"]
    assert m is not None and m["description"] == "d"
    assert m["input_value"] is None and m["input_timestamp"] is None

    assert rows[2]["value_deadletter"] is None  # corrupt -> fell through
    assert rows[2]["value_text"] is not None  # ...to the text tier
    assert rows[3]["value_deadletter"]["description"] == "via json"  # JSON tier
    assert rows[4]["value_deadletter"] is None
    assert rows[4]["value_text"] == "just text"
    assert rows[5]["value_deadletter"] is None


def test_encode_udf_then_python_tier_is_identity(spark, schema):
    """Spark-side encode -> framed wire bytes -> Spark-side decode restores
    every field; the framed bytes equal the pure-codec bytes (so the UDFs
    and the pure functions pin each other)."""
    from pyspark.sql import functions as F

    recs = [GOLDEN, MINIMAL]
    df = spark.createDataFrame(
        [(json.dumps(r),) for r in recs], "js string"
    ).withColumn("value", avro_wire_encode_udf()(F.col("js")))
    encoded = [bytes(r["value"]) for r in df.collect()]
    assert encoded == [
        confluent_frame(encode_bytes(r, schema), 1) for r in recs
    ]
    shaped = _kafka_shaped(spark, encoded)
    out = decode_kafka_records(shaped, use_avro=True)
    rows = {r["offset"]: r for r in out.collect()}
    for i, rec in enumerate(recs):
        dl = rows[i]["value_deadletter"]
        assert dl["description"] == rec["description"]
        assert dl["offset"] == rec["offset"]
        ts = dl["input_timestamp"]
        if rec["input_timestamp"] is None:
            assert ts is None
        else:
            assert int(ts.timestamp() * 1000) == rec["input_timestamp"]


def test_auto_mode_selects_python_tier_without_spark_avro(spark, schema):
    """The default call decodes framed Avro with the Python tier and no
    spark-avro jar: the cascade is complete by default, matching
    BruteForceSerde's always-on Avro tier."""
    good = confluent_frame(encode_bytes(GOLDEN, schema), 1)
    out = decode_kafka_records(_kafka_shaped(spark, [good]))
    [row] = out.collect()
    assert row["value_deadletter"]["description"] == GOLDEN["description"]


def test_decode_builds_plan_without_session_calls(spark, schema, monkeypatch):
    """Wiring the cascade runs nothing on the session: with
    ``createDataFrame`` and ``collect`` raising, the plan still builds,
    and it then decodes the wire corpus."""
    from pyspark.sql import DataFrame, SparkSession

    good = confluent_frame(encode_bytes(GOLDEN, schema), 1)
    shaped = _kafka_shaped(spark, [good, good[:-3], b"just text", None])

    def forbidden(*args, **kwargs):
        raise AssertionError("decode_kafka_records ran a Spark job")

    with monkeypatch.context() as m:
        m.setattr(SparkSession, "createDataFrame", forbidden)
        m.setattr(DataFrame, "collect", forbidden)
        out = decode_kafka_records(shaped)
    rows = {r["offset"]: r for r in out.collect()}
    assert rows[0]["value_deadletter"]["description"] == GOLDEN["description"]
    assert rows[1]["value_deadletter"] is None
    assert rows[2]["value_text"] == "just text"
    assert rows[3]["value_deadletter"] is None


def test_decode_rejects_non_bool_use_avro(spark):
    """The Avro tier is on or off; the former tier names are rejected
    instead of being read as truthy."""
    shaped = _kafka_shaped(spark, [b"x"])
    for bad in ("python", None, 1):
        with pytest.raises(TypeError):
            decode_kafka_records(shaped, use_avro=bad)


def _framed_dead_letter(schema, stack_trace: str, offset: int) -> bytes:
    from kafka_dead_letter_analyzer_spark.sources import fixtures as FX

    rec = FX.dead_letter_value(offset=offset, stack_trace=stack_trace)
    rec["input_timestamp"] = 1_704_110_400_000 + offset
    return confluent_frame(encode_bytes(rec, schema), 1)


def test_poison_records_fail_no_output_and_leave_good_rows_alone(spark, schema):
    """Good Avro dead letters mixed with poison records, through
    ``build_topology(decode_kafka_records(df))``: all four outputs collect,
    the good records' full/stats/examples rows equal a run without the
    poison, and every poison record that is not a dead letter lands in the
    error topic or in no output. The two poison records that do carry a
    valid dead letter (a framed key that is not Avro, a 1 MB stack trace)
    are analyzed like any other, each under its own error type."""
    import datetime as dt

    from kafka_dead_letter_analyzer_spark.functions import headers as H
    from kafka_dead_letter_analyzer_spark.plans.topology import build_topology
    from kafka_dead_letter_analyzer_spark.sources import fixtures as FX

    topic = "orders-dead-letters"
    t0 = dt.datetime(2024, 1, 1, 12, 0, tzinfo=dt.timezone.utc)

    def row(key, value, offset, headers=None):
        return (key, value, headers, topic, 0, offset,
                t0 + dt.timedelta(minutes=offset))

    good_types = [f"com.example.Svc{i}.run(Svc{i}.java:{i + 1})" for i in range(3)]
    good = [
        row(
            b"g%d" % i,
            _framed_dead_letter(
                schema,
                f"java.lang.RuntimeException: boom {i}\n\tat {good_types[i % 3]}\n",
                i,
            ),
            i,
        )
        for i in range(12)
    ]
    test_record = {
        "type": "record", "name": "TestRecord",
        "fields": [{"name": "id", "type": "int"}],
    }
    huge_type = "com.example.Huge.run(Huge.java:1)"
    huge_trace = (
        f"java.lang.IllegalStateException: huge\n\tat {huge_type}\n"
        + "\tat com.example.Filler.call(Filler.java:2)\n" * 26_000
    )
    assert len(huge_trace) > 1_000_000
    key_type = "com.example.KeyPoison.run(KeyPoison.java:3)"
    bad_header = [
        (k, b"\xff\xfe" if k == H.CONNECT_TASK_ID else v)
        for k, v in FX.connect_headers()
    ]
    not_dead_letters = {
        "p-unknown-id": confluent_frame(encode_bytes({"id": 9}, test_record), 99),
        "p-truncated-varint": confluent_frame(b"\x02\xff\xff", 1),
        "p-unframed": b"\x00\x00\x00\x00\x01",
        "p-null": None,
        "p-bad-header": b"not a dead letter",
    }
    poison = [
        row(k.encode(), v, 100 + i, bad_header if k == "p-bad-header" else None)
        for i, (k, v) in enumerate(not_dead_letters.items())
    ]
    framed_key = b"\x00\x00\x00\x00\x01\xff\xfe not avro"
    poison += [
        row(framed_key, _framed_dead_letter(
            schema, f"java.lang.Error: key\n\tat {key_type}\n", 200), 200),
        row(b"p-huge-trace", _framed_dead_letter(schema, huge_trace, 201), 201),
    ]
    shape = (
        "key binary, value binary, "
        "headers array<struct<key:string,value:binary>>, "
        "topic string, partition int, offset long, timestamp timestamp"
    )

    def outputs(rows):
        out = build_topology(
            decode_kafka_records(spark.createDataFrame(rows, shape))
        )
        return (
            sorted(out.full_dead_letters.collect(), key=lambda r: r["kafka_key"]),
            sorted(out.error_statistics.collect(), key=lambda r: r["kafka_key"]),
            sorted(out.error_examples.collect(), key=lambda r: r["kafka_key"]),
            out.error_topic.collect(),
        )

    clean = outputs(good)
    full, stats, examples, errors = outputs(good + poison)

    good_keys = {f"g{i}" for i in range(12)}
    assert len(clean[0]) == 12 and {r["key"] for r in clean[0]} == good_keys
    assert clean[3] == []
    assert [r for r in full if r["key"] in good_keys] == clean[0]
    good_stat_keys = {f"{topic}:{t}" for t in good_types}
    assert {r["kafka_key"] for r in clean[1]} == good_stat_keys
    assert [r for r in stats if r["kafka_key"] in good_stat_keys] == clean[1]
    assert [r for r in examples if r["kafka_key"] in good_stat_keys] == clean[2]

    # not dead letters: the error topic or nowhere
    error_keys = {r["kafka_key"] for r in errors}
    assert error_keys <= set(not_dead_letters)
    assert "p-bad-header" in error_keys  # unparseable Connect task id
    assert {r["key"] for r in full} == good_keys | {
        framed_key.decode("utf-8", "replace"), "p-huge-trace"
    }
    # valid dead letters: analyzed once each, under their own type
    assert {r["kafka_key"] for r in stats} == good_stat_keys | {
        f"{topic}:{huge_type}", f"{topic}:{key_type}"
    }
    [huge] = [r for r in full if r["key"] == "p-huge-trace"]
    assert huge["dead_letter"]["cause"]["stack_trace"] == huge_trace
    assert {r["kafka_key"] for r in examples} == {r["kafka_key"] for r in stats}


# ---------------------------------------------------------------------------
# Property-based: every combination of present/absent optionals round-trips
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False

if _HAS_HYPOTHESIS:
    _text = st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
        max_size=80,
    )
    _opt_text = st.none() | _text
    _record = st.fixed_dictionaries(
        {
            "input_value": _opt_text,
            "partition": st.none() | st.integers(-(2**31), 2**31 - 1),
            "topic": _opt_text,
            "offset": st.none() | st.integers(-(2**63), 2**63 - 1),
            "description": _text,
            "cause": st.fixed_dictionaries(
                {
                    "error_class": _opt_text,
                    "message": _opt_text,
                    "stack_trace": _opt_text,
                }
            ),
            "input_timestamp": st.none() | st.integers(0, 2**53),
        }
    )

    @settings(max_examples=200, deadline=None)
    @given(rec=_record, schema_id=st.integers(0, 2**32 - 1))
    def test_any_deadletter_roundtrips_through_the_wire(rec, schema_id):
        """Encode -> Confluent-frame -> unframe -> decode restores the
        record exactly, for every optional-field combination and arbitrary
        utf-8 content (multi-byte chars exercise the length prefixes)."""
        schema = json.loads(dead_letter_avro_schema())
        payload = encode_bytes(rec, schema)
        framed = confluent_frame(payload, schema_id)
        assert framed[0] == 0 and len(framed) == len(payload) + 5
        sid, unframed = confluent_unframe(framed)
        assert sid == schema_id and unframed == payload
        assert decode_bytes(unframed, schema) == rec


def test_encode_udf_nulls_out_unencodable_records(spark):
    """A record missing required non-null fields (to_json drops null
    keys, so a null description vanishes) must encode to NULL, not crash
    the task."""
    import pyspark.sql.functions as F

    from kafka_dead_letter_analyzer_spark.streaming.kafka import (
        avro_wire_encode_udf,
    )

    enc = avro_wire_encode_udf()
    df = spark.createDataFrame(
        [
            ('{"cause": {}}',),                    # no description at all
            ('{"description": null, "cause": {}}',),
            (None,),
        ],
        "js string",
    )
    rows = df.select(enc(F.col("js")).alias("b")).collect()
    assert [r["b"] for r in rows] == [None, None, None]


# ---------------------------------------------------------------------------
# Sink-side Avro serde (round-5: reference default output serde is
# large-message-wrapped SpecificAvro, DeadLetterAnalyzerApplication.java:56-66;
# plain Avro for stats, DeadLetterAnalyzerTopology.java:152)
# ---------------------------------------------------------------------------

DL_STRUCT = (
    "struct<input_value:string,partition:int,topic:string,offset:bigint,"
    "description:string,"
    "cause:struct<error_class:string,message:string,stack_trace:string>,"
    "input_timestamp:timestamp>"
)


def _o4_frame(spark, description="boom desc", input_value="bad"):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [("k1",)], "kafka_key string"
    ).withColumn(
        "dead_letter",
        F.expr(
            f"named_struct("
            f"'input_value', '{input_value}', 'partition', 3, "
            f"'topic', 'src-t', 'offset', CAST(42 AS BIGINT), "
            f"'description', '{description}', "
            f"'cause', named_struct('error_class', 'java.lang.RuntimeException',"
            f" 'message', 'boom', 'stack_trace', CAST(NULL AS STRING)), "
            f"'input_timestamp', timestamp_millis(1704110400000))"
        ).cast(DL_STRUCT),
    )


def test_sink_projection_avro_o4_field_exact(spark, schema):
    """O4 sink with value_format='avro': the emitted bytes are the
    Confluent-framed engine-codec encoding of the DeadLetter, and they
    re-enter decode_kafka_records field-exactly (the E3 loop stays
    closed under the Avro serde)."""
    from kafka_dead_letter_analyzer_spark.streaming.kafka import (
        kafka_sink_projection,
    )

    [row] = kafka_sink_projection(
        _o4_frame(spark), value_format="avro"
    ).collect()
    assert row["key"] == "k1"
    sid, payload = confluent_unframe(bytes(row["value"]))
    rec = decode_bytes(payload, schema)
    assert rec["description"] == "boom desc"
    assert rec["input_value"] == "bad"
    assert rec["cause"]["error_class"] == "java.lang.RuntimeException"
    assert rec["cause"]["stack_trace"] is None
    assert rec["input_timestamp"] == 1704110400000
    # and through the reader cascade
    shaped = _kafka_shaped(spark, [bytes(row["value"])])
    [out] = decode_kafka_records(shaped, use_avro=True).collect()
    dl = out["value_deadletter"]
    assert dl["description"] == "boom desc"
    assert int(dl["input_timestamp"].timestamp() * 1000) == 1704110400000


def test_sink_projection_avro_large_message_headers_roundtrip(spark, schema):
    """Avro + header-dialect large message (the app's USE_HEADERS=true
    default): an oversized value goes blob-backed with the flag header;
    decode_header_value + unframe + decode restores every field."""
    from kafka_dead_letter_analyzer_spark.streaming.kafka import (
        kafka_sink_projection,
    )
    from kafka_dead_letter_analyzer_spark.streaming.large_message import (
        decode_header_value,
    )

    big = "x" * 4096
    frame = _o4_frame(spark, input_value=big)
    out = kafka_sink_projection(
        frame,
        value_format="avro",
        large_message_threshold=256,
        blob_dir="/tmp/kdla-test-blobs",
    )
    assert "headers" in out.columns
    [row] = out.collect()
    headers = [(h["key"], bytes(h["value"])) for h in row["headers"]]
    raw = decode_header_value(bytes(row["value"]), headers)
    sid, payload = confluent_unframe(raw)
    rec = decode_bytes(payload, schema)
    assert rec["input_value"] == big
    assert rec["description"] == "boom desc"
    # small values stay bare (not-backed flag header, value untouched)
    small = kafka_sink_projection(
        _o4_frame(spark),
        value_format="avro",
        large_message_threshold=1 << 20,
        blob_dir="/tmp/kdla-test-blobs",
    )
    [srow] = small.collect()
    sid2, payload2 = confluent_unframe(
        decode_header_value(
            bytes(srow["value"]),
            [(h["key"], bytes(h["value"])) for h in srow["headers"]],
        )
    )
    assert decode_bytes(payload2, schema)["description"] == "boom desc"


def test_sink_stats_plain_avro_bytes_pinned(spark):
    """O2 (stats) plain-Avro value: byte layout pinned against the pure
    codec — field order count/created/updated/topic/type, all required
    (sink/FullErrorStatistics.avsc)."""
    from kafka_dead_letter_analyzer_spark.functions.avro_codec import (
        full_error_statistics_avro_schema,
    )
    from kafka_dead_letter_analyzer_spark.streaming.kafka import (
        kafka_sink_projection,
    )

    stats = spark.createDataFrame(
        [("t:ty", 3, "2024-01-01T12:00:00.000", "2024-01-02T12:00:00.000",
          "t", "ty")],
        "kafka_key string, count int, created string, updated string, "
        "topic string, type string",
    )
    [row] = kafka_sink_projection(stats, value_format="avro").collect()
    sch = json.loads(full_error_statistics_avro_schema())
    expected = confluent_frame(
        encode_bytes(
            {
                "count": 3,
                "created": "2024-01-01T12:00:00.000",
                "updated": "2024-01-02T12:00:00.000",
                "topic": "t",
                "type": "ty",
            },
            sch,
        ),
        1,
    )
    assert bytes(row["value"]) == expected


def test_sink_schema_inference_covers_the_four_shapes():
    from kafka_dead_letter_analyzer_spark.streaming.kafka import (
        _infer_sink_avro_schema,
    )

    assert "DeadLetter" in _infer_sink_avro_schema(["dead_letter"], True)
    assert "FullDeadLetterWithContext" in _infer_sink_avro_schema(
        ["key", "offset", "partition", "timestamp", "dead_letter",
         "topic", "type"], False
    )
    assert "FullErrorStatistics" in _infer_sink_avro_schema(
        ["count", "created", "updated", "topic", "type"], False
    )
    assert "ErrorExample" in _infer_sink_avro_schema(
        ["example", "topic", "type"], False
    )
    with pytest.raises(ValueError, match="cannot infer"):
        _infer_sink_avro_schema(["mystery"], False)


def test_coerce_record_restores_dropped_nulls_and_iso_timestamps(schema):
    from kafka_dead_letter_analyzer_spark.functions.avro_codec import (
        coerce_record,
    )

    # to_json-style rendering: null fields absent, ISO timestamp string
    rec = coerce_record(
        {
            "description": "d",
            "cause": {"message": "m"},
            "input_timestamp": "2024-01-01T12:00:00.000Z",
        },
        schema,
    )
    assert rec["input_value"] is None and rec["offset"] is None
    assert rec["cause"]["error_class"] is None
    assert rec["input_timestamp"] == 1704110400000
    assert decode_bytes(encode_bytes(rec, schema), schema) == rec
    # a missing REQUIRED field raises instead of being forged
    with pytest.raises(ValueError, match="description"):
        coerce_record({"cause": {}}, schema)


def test_full_context_and_example_schemas_roundtrip():
    """O1/O3 writer schemas encode their nested sink records and the
    binary round-trips exactly."""
    from kafka_dead_letter_analyzer_spark.functions.avro_codec import (
        error_example_avro_schema,
        full_dead_letter_with_context_avro_schema,
    )

    full_sch = json.loads(full_dead_letter_with_context_avro_schema())
    full = {
        "key": "k", "offset": 42, "partition": 3,
        "timestamp": "2024-01-01T12:00:00.000",
        "dead_letter": GOLDEN, "topic": "t", "type": "ty",
    }
    assert decode_bytes(encode_bytes(full, full_sch), full_sch) == full
    ex_sch = json.loads(error_example_avro_schema())
    ex = {
        "example": {
            "key": "k", "offset": 42, "partition": 3,
            "timestamp": "2024-01-01T12:00:00.000",
            "dead_letter": MINIMAL,
        },
        "topic": "t", "type": "ty",
    }
    assert decode_bytes(encode_bytes(ex, ex_sch), ex_sch) == ex


def test_union_multi_nonnull_branch_resolved_by_runtime_type(spark):
    """A union with SEVERAL non-null branches (["null","string",
    {timestamp-millis long}]) encodes and renders each value under its
    own branch — not blindly the first non-null one (round-4 advice:
    a millis long was printed raw under the string schema and vice
    versa)."""
    from pyspark.sql import functions as F

    from kafka_dead_letter_analyzer_spark.streaming.kafka import (
        brute_force_json_udf,
    )

    sch = {
        "type": "record",
        "name": "Multi",
        "fields": [
            {
                "name": "v",
                "type": [
                    "null",
                    "string",
                    {"type": "long", "logicalType": "timestamp-millis"},
                ],
            }
        ],
    }
    # encode-side: the long takes branch 2, the string branch 1
    b_str = encode_bytes({"v": "hello"}, sch)
    b_ts = encode_bytes({"v": 1704110400000}, sch)
    b_null = encode_bytes({"v": None}, sch)
    assert b_str[0] == 2  # zigzag(1): string branch
    assert b_ts[0] == 4  # zigzag(2): timestamp branch
    assert b_null[0] == 0
    assert decode_bytes(b_str, sch) == {"v": "hello"}
    assert decode_bytes(b_ts, sch) == {"v": 1704110400000}
    # render-side (brute-force tier with this schema registered):
    # string renders raw, long renders as ISO timestamp
    reg = {5: json.dumps(sch)}
    df = spark.createDataFrame(
        [
            (bytearray(confluent_frame(b_str, 5)),),
            (bytearray(confluent_frame(b_ts, 5)),),
        ],
        "value binary",
    ).withColumn("js", brute_force_json_udf(reg)(F.col("value")))
    got = [r["js"] for r in df.collect()]
    assert json.loads(got[0]) == {"v": "hello"}
    rendered_ts = json.loads(got[1])["v"]
    assert rendered_ts.startswith("2024-01-01T12:00:00")
