"""Seeded input generator and ground truth for the benchmark workloads.

Everything is derived from ``(spec, seed)``: the same pair writes
byte-identical files. The generator runs in one process; pyarrow's pool is
capped at ``nproc`` threads.

Two input kinds:

- Kafka-wire parquet: the Kafka source's fixed schema (binary key/value,
  headers, topic, partition, offset, timestamp). The stream workloads read
  it with ``readStream`` as a stand-in for the broker.
- RAW_ENVELOPE parquet: the engine's decoded input schema, one row per
  consumed record, read by ``cli.run_batch``.

The ground truth is computed here from the generated records, with an
Avro encoder of its own, and each record's error type is the first stack
frame the generator wrote. A defect in the engine's codec or classifier
therefore cannot also hide in the expected values.
"""

from __future__ import annotations

import io
import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

pa.set_cpu_count(max(1, min(pa.cpu_count(), os.cpu_count() or 1)))

# Header names of the three dialects. Kept apart from the engine's copy in
# functions/headers.py on purpose: they are part of the wire format.
STREAMS = "__streams.errors."
CONNECT = "__connect.errors."

CONVERT_DESC = "Error converting errors to dead letters"
ANALYZE_DESC = "Error analyzing dead letter"
ILLEGAL_ARGUMENT = "java.lang.IllegalArgumentException"
NUMBER_FORMAT = "java.lang.NumberFormatException"
NO_SUCH_ELEMENT = "java.util.NoSuchElementException"

DIALECTS = ("avro", "streams", "connect", "native")
EXCEPTIONS = (
    "java.lang.IllegalStateException",
    "java.lang.NullPointerException",
    "org.apache.kafka.common.errors.SerializationException",
    "com.fasterxml.jackson.core.JsonParseException",
    "java.util.concurrent.TimeoutException",
)
SERVICES = (
    "orders", "payments", "billing", "inventory", "shipping", "users",
    "search", "ledger", "audit", "pricing", "catalog", "notify",
)
BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
PARTITIONS = 4  # partitions of each dead-letter topic

KAFKA_SCHEMA = pa.schema([
    ("key", pa.binary()),
    ("value", pa.binary()),
    ("headers", pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))),
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
])
_DEAD_LETTER = pa.struct([
    ("input_value", pa.string()),
    ("partition", pa.int32()),
    ("topic", pa.string()),
    ("offset", pa.int64()),
    ("description", pa.string()),
    ("cause", pa.struct([
        ("error_class", pa.string()),
        ("message", pa.string()),
        ("stack_trace", pa.string()),
    ])),
    ("input_timestamp", pa.timestamp("us", tz="UTC")),
])
ENVELOPE_SCHEMA = pa.schema([
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
    ("key", pa.string()),
    ("value_deadletter", _DEAD_LETTER),
    ("value_text", pa.string()),
    ("headers", pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))),
])


@dataclass(frozen=True)
class Spec:
    """The input properties a workload varies."""

    records: int
    files: int
    dialects: dict = field(hash=False)  # weight per entry of DIALECTS
    topics: int  # consumer topics
    types: int  # distinct error types (first stack frames)
    frames: int  # stack-trace length
    malformed: float  # share of records with a broken header or frame
    null_trace: float  # share of records without a stack trace
    span_ms: int  # record timestamps spread over this span
    wire: bool  # Kafka-wire input (stream) or RAW_ENVELOPE (batch)


# ---------------------------------------------------------------------------
# Avro binary encoding (Confluent-framed) of the DeadLetter record
# ---------------------------------------------------------------------------


def _long(out: io.BytesIO, n: int) -> None:
    n = (n << 1) ^ (n >> 63)
    while n > 0x7F:
        out.write(bytes(((n & 0x7F) | 0x80,)))
        n >>= 7
    out.write(bytes((n,)))


def _string(out: io.BytesIO, s: str) -> None:
    b = s.encode("utf-8")
    _long(out, len(b))
    out.write(b)


def _opt(out: io.BytesIO, v, write) -> None:
    if v is None:
        _long(out, 0)
    else:
        _long(out, 1)
        write(out, v)


def frame(schema_id: int, payload: bytes) -> bytes:
    return b"\x00" + schema_id.to_bytes(4, "big") + payload


def avro_dead_letter(dl: dict) -> bytes:
    out = io.BytesIO()
    _opt(out, dl["input_value"], _string)
    _opt(out, dl["partition"], _long)
    _opt(out, dl["topic"], _string)
    _opt(out, dl["offset"], _long)
    _string(out, dl["description"])
    cause = dl["cause"]
    for k in ("error_class", "message", "stack_trace"):
        _opt(out, cause[k], _string)
    _opt(out, dl["input_timestamp"], _long)
    return frame(1, out.getvalue())


def avro_string_key(s: str) -> bytes:
    out = io.BytesIO()
    _string(out, s)
    return frame(2, out.getvalue())


# ---------------------------------------------------------------------------
# Records and ground truth
# ---------------------------------------------------------------------------


def fmt_ts(ms: int) -> str:
    """The sink timestamp format, ``yyyy-MM-dd'T'HH:mm:ss.SSS`` in UTC."""
    d = datetime.fromtimestamp(ms // 1000, tz=timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S") + f".{ms % 1000:03d}"


def _ts(ms: int) -> datetime:
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc)


class _TypeBook:
    """Trace text per error type; the type is the trace's first frame."""

    def __init__(self, spec: Spec, rng: random.Random):
        self.frames = {}
        tail = "".join(
            f"\tat org.framework.layer{j % 9}.Invoker{j}.call(Invoker{j}.java:{17 + j})\n"
            for j in range(max(0, spec.frames - 1))
        )
        for t in range(spec.types):
            cls = f"Handler{t}"
            frame_txt = (
                f"com.acme.{SERVICES[t % len(SERVICES)]}.{cls}."
                f"process{rng.randrange(8)}({cls}.java:{rng.randrange(20, 900)})"
            )
            self.frames[t] = (frame_txt, tail, EXCEPTIONS[t % len(EXCEPTIONS)])

    def trace(self, t: int, message: str) -> tuple[str, str, str]:
        """(stack trace, expected type, exception class)."""
        frame_txt, tail, exc = self.frames[t]
        return f"{exc}: {message}\n\tat {frame_txt}\n{tail}", frame_txt, exc


def _cum_weights(n: int, skew: float) -> list[float]:
    acc, out = 0.0, []
    for r in range(n):
        acc += 1.0 / (r + 1) ** skew
        out.append(acc)
    return out


def _hdr(k: str, v: str | None) -> tuple[str, bytes | None]:
    return (k, None if v is None else v.encode("utf-8"))


def generate(spec: Spec, seed: int) -> tuple[list[list[dict]], dict]:
    """Build the records, split into ``spec.files`` files, and the truth.

    Record timestamps rise strictly with the record index and files hold
    consecutive records, so the first record of a key in file order is
    also its first by (timestamp, offset): the streaming first-arrival
    example and the batch ``min_by`` example are the same record.
    """
    if spec.span_ms < spec.records:
        raise ValueError("span_ms must give every record its own millisecond")
    rng = random.Random(seed)
    book = _TypeBook(spec, rng)
    type_cw = _cum_weights(spec.types, 0.8)
    dial_names = [d for d in DIALECTS if spec.dialects.get(d)]
    dial_cw, acc = [], 0.0
    for d in dial_names:
        acc += spec.dialects[d]
        dial_cw.append(acc)
    topics = [f"{SERVICES[i % len(SERVICES)]}{i // len(SERVICES) or ''}-dead-letters"
              for i in range(spec.topics)]
    next_offset: dict[tuple[str, int], int] = {}

    full: dict[str, str] = {}
    stats: dict[str, list] = {}
    examples: dict[str, list] = {}
    errors: dict[str, int] = {}
    rows_per_file: list[list[dict]] = [[] for _ in range(spec.files)]
    # per file: output rows it causes, for checking each micro-batch
    per_file = [{"full": 0, "errors": 0, "keys": set(), "new_keys": 0}
                for _ in range(spec.files)]

    for i in range(spec.records):
        topic = topics[rng.randrange(spec.topics)]
        t = rng.choices(range(spec.types), cum_weights=type_cw)[0]
        dialect = rng.choices(dial_names, cum_weights=dial_cw)[0]
        u = rng.random()
        defect = (
            "malformed" if u < spec.malformed
            else "null_trace" if u < spec.malformed + spec.null_trace
            else None
        )
        part = i % PARTITIONS
        off = next_offset.get((topic, part), 0)
        next_offset[(topic, part)] = off + 1
        ts_ms = BASE_MS + i * spec.span_ms // spec.records
        key = f"user-{rng.randrange(100_000):05d}"
        message = f"failed record {i}"
        trace, etype, exc = book.trace(t, message)
        orig_topic = topic.removesuffix("-dead-letters")
        orig_part, orig_off = rng.randrange(12), rng.randrange(1, 10**9)
        if defect == "null_trace":
            trace = None

        headers = None
        value_text = json.dumps({"id": i, "sku": f"sku-{rng.randrange(5000)}",
                                 "qty": rng.randrange(1, 9)})
        dead_letter = None
        expect_error = None  # (description, error_class, message)
        if dialect == "avro":
            description = f"Error in {orig_topic} processor"
            dead_letter = {
                "input_value": value_text, "partition": orig_part,
                "topic": orig_topic, "offset": orig_off,
                "description": description,
                "cause": {"error_class": exc, "message": message, "stack_trace": trace},
                "input_timestamp": ts_ms - 1000,
            }
            if trace is None:
                expect_error = (ANALYZE_DESC, NO_SUCH_ELEMENT, "No value present")
        elif dialect == "streams":
            description = "Could not process record"
            bad_part = f"p{orig_part}"
            headers = [
                _hdr(STREAMS + "partition", bad_part if defect == "malformed" else str(orig_part)),
                _hdr(STREAMS + "topic", orig_topic),
                _hdr(STREAMS + "offset", str(orig_off)),
                _hdr(STREAMS + "description", description),
                _hdr(STREAMS + "exception.class.name", exc),
                _hdr(STREAMS + "exception.message", message),
                _hdr(STREAMS + "exception.stack_trace", trace),
            ]
            if defect == "malformed":
                expect_error = (CONVERT_DESC, NUMBER_FORMAT, f'For input string: "{bad_part}"')
            elif trace is None:
                expect_error = (CONVERT_DESC, ILLEGAL_ARGUMENT,
                                f"Missing required header {STREAMS}exception.stack_trace")
        elif dialect == "connect":
            stage, clazz = "VALUE_CONVERTER", "org.apache.kafka.connect.json.JsonConverter"
            connector, task = f"{orig_topic}-sink", str(orig_part % 3)
            description = f"Error in stage {stage} ({clazz}) in {connector}[{task}]"
            bad_task = f"t{task}"
            headers = [
                _hdr(CONNECT + "topic", orig_topic),
                _hdr(CONNECT + "partition", str(orig_part)),
                _hdr(CONNECT + "offset", str(orig_off)),
                _hdr(CONNECT + "stage", stage),
                _hdr(CONNECT + "class.name", clazz),
                _hdr(CONNECT + "task.id", bad_task if defect == "malformed" else task),
                _hdr(CONNECT + "connector.name", connector),
                _hdr(CONNECT + "exception.class.name", exc),
                _hdr(CONNECT + "exception.message", message),
            ]
            if trace is not None:
                headers.append(_hdr(CONNECT + "exception.stacktrace", trace))
            if defect == "malformed":
                expect_error = (CONVERT_DESC, NUMBER_FORMAT, f'For input string: "{bad_task}"')
            elif trace is None:
                expect_error = (ANALYZE_DESC, NO_SUCH_ELEMENT, "No value present")
        else:  # native (KIP-1034)
            node, task = f"KSTREAM-MAP-{t % 20:010d}", f"0_{orig_part}"
            description = f"Error in processor node {node} in task {task}"
            headers = [
                _hdr(STREAMS + "partition", str(orig_part)),
                _hdr(STREAMS + "exception", exc),
                _hdr(STREAMS + "stacktrace", trace),
                _hdr(STREAMS + "exception_message", message),
                _hdr(STREAMS + "topic", orig_topic),
                _hdr(STREAMS + "processor_node_id", node),
                _hdr(STREAMS + "task_id", task),
            ]
            if defect != "malformed":
                headers.insert(1, _hdr(STREAMS + "offset", str(orig_off)))
                if trace is None:
                    expect_error = (CONVERT_DESC, ILLEGAL_ARGUMENT,
                                    f"Missing required header {STREAMS}stacktrace")
            else:
                expect_error = (CONVERT_DESC, ILLEGAL_ARGUMENT,
                                f"Missing required header {STREAMS}offset")

        # Kafka-wire form of the record, and the key the engine decodes
        if spec.wire and dialect == "avro":
            wire_key = avro_string_key(key)
            # unregistered schema id: the key falls through to its raw text
            seen_key = wire_key.decode("ascii")
            value = avro_dead_letter(dead_letter)
            if defect == "malformed":
                value = value[:8]  # truncated frame: no tier decodes it
        else:
            wire_key, seen_key = key.encode("utf-8"), key
            value = value_text.encode("utf-8")

        pf = per_file[i * spec.files // spec.records]
        dropped = dialect == "avro" and spec.wire and defect == "malformed"
        if dropped:
            pass  # matches no dialect: the reference drops it silently
        elif expect_error is not None:
            ek = json.dumps([seen_key, *expect_error])
            errors[ek] = errors.get(ek, 0) + 1
            pf["errors"] += 1
        else:
            sk = f"{topic}:{etype}"
            full[f"{topic}+{part}+{off}"] = etype
            pf["full"] += 1
            pf["keys"].add(sk)
            st = stats.get(sk)
            if st is None:
                pf["new_keys"] += 1
                stats[sk] = [1, ts_ms, ts_ms]
                examples[sk] = [seen_key, off, part, fmt_ts(ts_ms), description]
            else:
                st[0] += 1
                st[2] = ts_ms

        if spec.wire:
            row = {"key": wire_key, "value": value, "headers": headers,
                   "topic": topic, "partition": part, "offset": off,
                   "timestamp": _ts(ts_ms)}
        else:
            if dead_letter is not None:
                dead_letter = dict(dead_letter, input_timestamp=_ts(dead_letter["input_timestamp"]))
            row = {"topic": topic, "partition": part, "offset": off,
                   "timestamp": _ts(ts_ms), "key": key,
                   "value_deadletter": dead_letter,
                   "value_text": None if dialect == "avro" else value_text,
                   "headers": headers}
        rows_per_file[i * spec.files // spec.records].append(row)

    truth = {
        "records": spec.records,
        "full": full,
        "stats": {k: {"count": c, "created": fmt_ts(a), "updated": fmt_ts(b)}
                  for k, (c, a, b) in stats.items()},
        "examples": examples,
        "errors": errors,
        "per_file": [dict(pf, keys=sorted(pf["keys"])) for pf in per_file],
    }
    return rows_per_file, truth


def write(spec: Spec, seed: int, out_dir: str) -> tuple[list[str], dict]:
    """Write the files as ``<out_dir>/files/part-NNNNN.parquet`` and the
    truth as ``<out_dir>/truth.json``; returns the file paths and the truth."""
    rows_per_file, truth = generate(spec, seed)
    schema = KAFKA_SCHEMA if spec.wire else ENVELOPE_SCHEMA
    os.makedirs(os.path.join(out_dir, "files"), exist_ok=True)
    paths = []
    for n, rows in enumerate(rows_per_file):
        path = os.path.join(out_dir, "files", f"part-{n:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
        paths.append(path)
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return paths, truth
