"""Wire-format roundtrip operators over the transcript record shape.

`msgpack_roundtrip` re-buffers every turn exactly like the reference
engine does internally — the msgpack pair [EventTime ext0, map]
(src/flb_pack.c; src/flb_time.c:141-181) — then decodes its own bytes
back into columns. `avro_roundtrip` does the same through the Avro
binary encoding (src/flb_avro.c's output path, here pure Python since
the image lacks the spark-avro jar).

Both emit the decoded fields plus `n_bytes`, the exact wire size —
so the oracle can verify not just that decode(encode(x)) == x (which
a broken-but-symmetric codec would pass) but that the byte-level
encoding choices (fixstr vs str8 headers, canonical smallest ints,
zigzag varint widths) match the closed-form sizes the spec dictates.

One encoder per format: `forward_roundtrip` packs with the Catalyst
encoder (functions/wire_expr.forward_message_bytes) and runs Python
only to decode; every other format packs in Python, which measured
faster than a JVM encode feeding a Python decode.

Scale shape: a codec is inherently per-record work; `_map_rows` keeps
it Arrow-batched (one Python crossing per batch, columns read whole),
embarrassingly parallel, and shuffle-free — the 100 TB cost is one map
pass.  The conversation-bounded envelopes (Kafka, TD) group on conv_id
through `_per_conversation`.
"""

from __future__ import annotations

import gzip
from collections.abc import Callable, Iterable
from itertools import chain

import pandas as pd
from pyspark.sql import DataFrame

from fluent_bit_spark.functions.wire import (
    DS_GAUGE,
    HTTP_CHUNK_SIZE,
    avro_decode,
    avro_encode,
    http_chunked_decode,
    http_chunked_encode,
    msgpack_unpack,
    pack_collectd,
    pack_kafka_batch,
    pack_kafka_produce_request,
    pack_mqtt_publish,
    pack_td_record,
    pack_turn_event,
    pack_ws_frame,
    unpack_collectd,
    unpack_event,
    unpack_forward_message,
    unpack_kafka_batch,
    unpack_kafka_produce_request,
    unpack_mqtt_publish,
    unpack_turn_event,
    unpack_ws_frame,
)
from fluent_bit_spark.functions.wire_expr import forward_message_bytes

# the transcript columns every codec reads, in row-function order;
# `ts` reaches the row functions as µs-epoch ints
_TURN_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")

_OUT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp, n_bytes long"
)

AVRO_TRANSCRIPT_SCHEMA = [
    ("conv_id", "string"),
    ("turn_idx", "long"),
    ("role", "string"),
    ("text", "string"),
    ("tool", ["null", "string"]),
    ("ts_us", "long"),
]


def _columns(pdf: pd.DataFrame) -> list[list]:
    """The batch as one Python list per column: timestamps become
    µs-epoch ints, and pandas' NaN/NaT nulls become None."""
    out = []
    for _, s in pdf.items():
        if s.dtype.kind == "M":
            # to_numpy pins the ns unit; Series.astype would silently
            # reinterpret a datetime64[us]-backed column as µs ints
            vals = (
                s.to_numpy(dtype="datetime64[ns]").astype("int64") // 1_000
            ).tolist()
        else:
            vals = s.tolist()
        na = s.isna()
        if na.any():
            vals = [None if n else v for v, n in zip(vals, na.tolist())]
        out.append(vals)
    return out


def _frame(rows: list, schema: str) -> pd.DataFrame:
    """Output rows as a pandas frame named after the DDL `schema`;
    timestamp fields are built from µs-epoch ints."""
    fields = [f.split() for f in schema.split(",")]
    frame = pd.DataFrame(rows, columns=[name for name, _ in fields])
    for name, typ in fields:
        if typ == "timestamp":
            frame[name] = pd.to_datetime(frame[name], unit="us")
    return frame


def _map_rows(
    df: DataFrame, schema: str, row: Callable, flat: bool = False
) -> DataFrame:
    """Arrow-batched per-row codec stage: `row(*values)` runs once per
    row of `df` (values in `df`'s column order, read by `_columns`) and
    returns one output row of `schema` — or, with `flat`, a list of
    them."""

    def fn(pdfs: Iterable[pd.DataFrame]):
        for pdf in pdfs:
            out = map(row, *_columns(pdf))
            if flat:
                out = chain.from_iterable(out)
            yield _frame(list(out), schema)

    return df.mapInPandas(fn, schema)


def _per_conversation(df: DataFrame, schema: str, group: Callable) -> DataFrame:
    """One output row of `schema` per conversation: `group(rows)` gets
    the conversation's `_TURN_COLS` tuples in turn_idx order."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = sorted(zip(*_columns(pdf)), key=lambda r: r[1])
        return _frame([group(rows)], schema)

    return df.select(*_TURN_COLS).groupBy("conv_id").applyInPandas(fn, schema)


def msgpack_roundtrip(df: DataFrame) -> DataFrame:
    """transcripts -> reference msgpack event bytes -> decoded columns
    (+ exact wire size). EventTime carries (sec, nsec); µs precision
    survives the nsec field exactly."""

    def row(conv, ti, role, text, tool, us):
        sec, usec = divmod(us, 1_000_000)
        buf = pack_turn_event(sec, usec * 1_000, conv, ti, role, text, tool)
        # the fast decode declines any shape it does not recognize
        dsec, dnsec, rec = unpack_turn_event(buf) or unpack_event(buf)
        return (
            rec["conv_id"], rec["turn_idx"], rec["role"], rec["text"],
            rec["tool"], dsec * 1_000_000 + dnsec // 1_000, len(buf),
        )

    return _map_rows(df.select(*_TURN_COLS), _OUT_SCHEMA, row)


def avro_roundtrip(df: DataFrame) -> DataFrame:
    """transcripts -> Avro binary bytes (zigzag varints, union-index
    nullable tool, µs-epoch long timestamp) -> decoded columns."""
    names = [name for name, _ in AVRO_TRANSCRIPT_SCHEMA]

    def row(*values):
        buf = avro_encode(dict(zip(names, values)), AVRO_TRANSCRIPT_SCHEMA)
        d = avro_decode(buf, AVRO_TRANSCRIPT_SCHEMA)
        return (*(d[n] for n in names), len(buf))

    return _map_rows(df.select(*_TURN_COLS), _OUT_SCHEMA, row)


_FWD_SCHEMA = (
    "tag string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp, n_events long, "
    "msg_bytes long"
)


def forward_roundtrip(df: DataFrame) -> DataFrame:
    """Forward-protocol framing parity: each (tag, conv_id) group is
    packed into ONE Forward-mode message — the msgpack array
    ``[tag, [[EventTime, record], ...]]`` out_forward sends and
    in_forward's fw_prot.c parses — then unpacked back into rows,
    carrying the event count and the exact message wire size.

    The message is built JVM-side by wire_expr.forward_message_bytes,
    the same encoder the `forward_wire_jvm` query runs; Python only
    decodes, one message per row.  Scale shape: the messages group on
    (tag, conv_id), so a message is conversation-bounded — never one
    group per tag, which would serialize a whole route at 100 TB."""

    def decode(buf):
        tag, back = unpack_forward_message(buf)
        return [
            (
                tag, rec["conv_id"], rec["turn_idx"], rec["role"],
                rec["text"], rec["tool"], sec * 1_000_000 + nsec // 1_000,
                len(back), len(buf),
            )
            for sec, nsec, rec in back
        ]

    messages = forward_message_bytes(df.select("tag", *_TURN_COLS))
    return _map_rows(messages.select("message"), _FWD_SCHEMA, decode, flat=True)


def _kafka_records(rows: list) -> list:
    """One conversation's Kafka records (ts_ms, key, value): key =
    conv_id UTF-8, value = the turn's msgpack event bytes."""
    return [
        (
            us // 1_000,
            conv.encode(),
            pack_turn_event(
                us // 1_000_000, us % 1_000_000 * 1_000,
                conv, ti, role, text, tool,
            ),
        )
        for conv, ti, role, text, tool, us in rows
    ]


_KAFKA_SCHEMA = (
    "conv_id string, n_records long, batch_bytes long, "
    "base_ts_ms long, max_ts_ms long, crc_ok boolean"
)


def kafka_batch_roundtrip(df: DataFrame) -> DataFrame:
    """Kafka v2 record-batch framing parity (plugins/out_kafka/kafka.c
    produce path; batch layout per KIP-98 / the on-disk message format
    v2): each conversation becomes ONE record batch — key = conv_id
    UTF-8, value = the same msgpack event bytes out_kafka's
    FLB_KAFKA_FMT_MSGP mode ships, timestamps as ms deltas against the
    first turn — packed to real bytes (big-endian fixed header,
    CRC-32C over attributes..records, zigzag-varint record bodies),
    then unpacked from those bytes and field-compared against the
    input rows; any mismatch raises inside the task.

    Emits per-batch accounting the oracle re-derives in closed form:
    record count, exact batch wire size, base/max timestamps, and the
    CRC validity flag from the decode side.

    Scale shape: `applyInPandas` keyed on conv_id — the batch is
    conversation-bounded and the shuffle key is the pipeline's usual
    conv_id partitioning, so 100 TB cost is one co-partitioned pass;
    all byte work is Arrow-batched Python, never per-row UDF calls.
    """

    def group(rows):
        conv = rows[0][0]
        recs = _kafka_records(rows)
        buf = pack_kafka_batch(recs)
        back, crc_ok = unpack_kafka_batch(buf)
        if back != recs:
            raise ValueError(f"kafka batch roundtrip mismatch for {conv}")
        for _ts_ms, _key, val in back:
            if unpack_event(val)[2]["conv_id"] != conv:
                raise ValueError("record value decode mismatch")
        return (
            conv, len(recs), len(buf), recs[0][0],
            max(r[0] for r in recs), crc_ok,
        )

    return _per_conversation(df, _KAFKA_SCHEMA, group)


_MQTT_SCHEMA = (
    "conv_id string, turn_idx int, qos int, topic string, "
    "packet_id int, payload string, n_bytes long"
)


def mqtt_roundtrip(df: DataFrame) -> DataFrame:
    """MQTT PUBLISH framing parity (plugins/in_mqtt/mqtt_prot.c:222
    mqtt_handle_publish + the Remaining-Length decode at :341-355):
    each turn is framed as one PUBLISH packet — topic `fbs/<conv_id>`,
    payload = the turn text, qos = turn_idx % 3 (exercising the
    QoS>0 packet-id branch) — then parsed back, carrying the exact
    frame size so the oracle can pin the varint/header layout
    closed-form.

    Scale shape: per-record codec work, Arrow-batched mapInPandas,
    shuffle-free."""

    def row(conv, ti, text):
        qos = ti % 3
        buf = pack_mqtt_publish(
            f"fbs/{conv}",
            ("" if text is None else text).encode("utf-8"),
            qos=qos,
            packet_id=(ti % 65536) if qos else 0,
        )
        dq, topic, pid, payload = unpack_mqtt_publish(buf)
        return (conv, ti, dq, topic, pid, payload.decode("utf-8"), len(buf))

    return _map_rows(df.select("conv_id", "turn_idx", "text"), _MQTT_SCHEMA, row)


_COLLECTD_SCHEMA = (
    "conv_id string, turn_idx int, host string, plugin string, "
    "plugin_instance string, type string, type_instance string, "
    "time_sec long, text_len double, n_bytes long"
)


def collectd_roundtrip(df: DataFrame) -> DataFrame:
    """collectd binary-protocol parity (plugins/in_collectd/
    netprot.c:49-59 part table, :180-203 value decode): each turn
    becomes one packet — host=conv_id, plugin_instance=role,
    type_instance=tool (part omitted when NULL, like the reference's
    presence-conditional packing at netprot.c:150-178), one gauge
    value = the text length — then decoded back with the exact packet
    size for the closed-form size oracle."""

    def row(conv, ti, role, text, tool, us):
        buf = pack_collectd(
            host=conv,
            plugin="transcript",
            plugin_instance=role,
            type_="gauge",
            type_instance=tool,
            time_sec=us // 1_000_000,
            values=[(DS_GAUGE, float(len("" if text is None else text)))],
        )
        h = unpack_collectd(buf)
        return (
            conv, ti, h["host"], h["plugin"], h["plugin_instance"],
            h["type"], h.get("type_instance"), h["time_sec"],
            h["values"][0][1], len(buf),
        )

    return _map_rows(df.select(*_TURN_COLS), _COLLECTD_SCHEMA, row)


_HTTP_SCHEMA = (
    "conv_id string, turn_idx int, payload string, n_chunks long, "
    "n_bytes long"
)


def http_chunked_roundtrip(df: DataFrame) -> DataFrame:
    """HTTP/1.1 chunked transfer framing parity
    (src/flb_http_client.c:258 process_chunked_data): each turn's text
    is chunk-encoded at HTTP_CHUNK_SIZE bytes and decoded back,
    carrying the chunk count and the exact on-wire size — the oracle
    re-derives both closed-form from the payload byte length
    (hex-header widths included). Arrow-batched map stage,
    shuffle-free."""

    def row(conv, ti, text):
        payload = ("" if text is None else text).encode("utf-8")
        buf = http_chunked_encode(payload, HTTP_CHUNK_SIZE)
        return (
            conv, ti, http_chunked_decode(buf).decode("utf-8"),
            -(-len(payload) // HTTP_CHUNK_SIZE), len(buf),
        )

    return _map_rows(df.select("conv_id", "turn_idx", "text"), _HTTP_SCHEMA, row)


_WS_SCHEMA = (
    "conv_id string, turn_idx int, payload_bytes long, header_hex string, "
    "n_bytes long, ok boolean"
)


def websocket_roundtrip(df: DataFrame) -> DataFrame:
    """WebSocket data-frame parity (plugins/out_websocket/
    websocket.c:92-156 flb_ws_sendDataFrameHeader): each turn's text,
    repeated 1/9/17x by turn_idx to exercise both in-data length
    branches (7-bit < 126 and 16-bit < 65536; the 64-bit branch is
    unit-tested -- transcript turns never reach 64 KiB), is packed as
    one masked client frame with the reference's fixed
    {0x12,0x34,0x56,0x78} key, then unmasked back.  Emits the header
    bytes as hex plus the exact frame size so the oracle re-derives
    the opcode/MASK-bit/extended-length layout closed-form, and `ok` =
    the unmasked payload byte-matches the original (pinning that
    masking is an involution, not just symmetric-broken).

    Scale shape: per-record codec work, Arrow-batched mapInPandas,
    shuffle-free."""

    def row(conv, ti, text):
        rep = 1 + (ti % 3) * 8
        payload = (("" if text is None else text) * rep).encode("utf-8")
        buf = pack_ws_frame(payload)
        head_len = 6 if len(payload) < 126 else 8 if len(payload) < 65536 else 14
        _, out, consumed = unpack_ws_frame(buf)
        return (
            conv, ti, len(payload), buf[:head_len].hex(), len(buf),
            out == payload and consumed == len(buf),
        )

    return _map_rows(df.select("conv_id", "turn_idx", "text"), _WS_SCHEMA, row)


_TD_SCHEMA = "conv_id string, n_records long, mp_bytes long, gz_ok boolean"


def td_roundtrip(df: DataFrame) -> DataFrame:
    """Treasure Data upload parity (plugins/out_td/td.c:103-129
    td_format + td_http.c:50 flb_gzip_compress): per flush chunk (one
    conv_id group), every record is repacked as a msgpack map with the
    injected leading 'time' int key (epoch seconds) followed by the
    original keys, the maps are concatenated into one stream, and the
    stream is gzipped for the PUT body.  The decoded-back stream is
    field-compared in-task (gz_ok covers gunzip + msgpack decode +
    value equality); `mp_bytes` is the exact uncompressed wire size,
    re-derived closed-form by the oracle (gzip size is NOT exposed --
    it depends on the zlib build, not the format contract).

    Scale shape: one shuffle on conv_id (applyInPandas group =
    conversation-bounded state), codec work Arrow-batched."""

    def group(rows):
        recs = [
            {
                "time": us // 1_000_000, "conv_id": conv, "turn_idx": ti,
                "role": role, "text": text, "tool": tool,
            }
            for conv, ti, role, text, tool, us in rows
        ]
        # fast-path encode; the decode walk below stays on the generic
        # decoder, so every run cross-verifies the specialized encoder
        stream = b"".join(pack_td_record(*m.values()) for m in recs)
        body = gzip.compress(stream, mtime=0)
        # decode back: gunzip, walk the concatenated maps
        out, pos, back = gzip.decompress(body), 0, []
        while pos < len(out):
            m, pos = msgpack_unpack(out, pos)
            back.append(m)
        ok = back == recs and pos == len(stream)
        return (rows[0][0], len(recs), len(stream), ok)

    return _per_conversation(df, _TD_SCHEMA, group)


_KPRODUCE_SCHEMA = (
    "conv_id string, n_records long, batch_bytes long, request_bytes long, "
    "api_key int, correlation_id int, crc_ok boolean"
)


def kafka_produce_roundtrip(df: DataFrame) -> DataFrame:
    """Kafka Produce-request wire framing parity (the envelope
    out_kafka ships each flush through librdkafka — plugins/out_kafka/
    kafka.c produce path; layout per the public Kafka protocol,
    Produce v3): each conversation's v2 record batch (the same bytes
    kafka_batch_roundtrip pins) is wrapped in one request — int32 size
    prefix, header (api_key=0 Produce, v3, correlation_id = record
    count for a deterministic non-constant value, client_id
    'fluent-bit'), null transactional_id, acks=-1, topic
    'fbs.transcripts', partition 0, record set as BYTES — then parsed
    back and the inner batch CRC re-verified.  The oracle re-derives
    the exact request size closed-form (fixed 40-byte envelope +
    client_id + topic + batch bytes).

    Scale shape: same conv_id applyInPandas pass as the batch
    roundtrip — one co-partitioned shuffle, Arrow-batched bytes."""

    def group(rows):
        conv = rows[0][0]
        recs = _kafka_records(rows)
        batch = pack_kafka_batch(recs)
        req = pack_kafka_produce_request(
            "fluent-bit", "fbs.transcripts", 0, batch,
            correlation_id=len(recs),
        )
        h = unpack_kafka_produce_request(req)
        if (h["topic"], h["partition"], h["client_id"]) != (
            "fbs.transcripts", 0, "fluent-bit"
        ) or h["record_set"] != batch:
            raise ValueError(f"produce request roundtrip mismatch for {conv}")
        back, crc_ok = unpack_kafka_batch(h["record_set"])
        if back != recs:
            raise ValueError(f"inner batch mismatch for {conv}")
        return (
            conv, len(recs), len(batch), len(req), h["api_key"],
            h["correlation_id"], crc_ok,
        )

    return _per_conversation(df, _KPRODUCE_SCHEMA, group)
