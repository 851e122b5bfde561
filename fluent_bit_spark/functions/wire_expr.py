"""JVM-side wire encoding of the transcript event shape — pure
Catalyst expressions, no Python in the loop.

The reference buffers every event as the msgpack pair
``[EventTime ext0, map]`` (src/flb_pack.c; src/flb_time.c:141-181).
This module builds those bytes, the Forward-mode message around them,
MQTT PUBLISH frames and HTTP/1.1 chunked framing from
`encode`/`octet_length`/`hex`/`lpad`/`to_binary`/`concat`
expressions inside whole-stage codegen.

Which encoder a format uses is decided per format, by measurement on
its roundtrip (operators/wireformat.py):
  * Forward: `forward_roundtrip` and the `forward_wire_jvm` query both
    pack with `forward_message_bytes`; Python only decodes.  The
    Python group packer it replaced was about 7-14x slower (100k
    routed turns, local[4] on a 4-core host).
  * msgpack, MQTT, HTTP chunked: the roundtrips keep their Python
    packer, which was faster than a JVM encode feeding a Python
    decode; the encoders here back the `*_wire_jvm` size queries and
    the byte-identity tests.
  * Avro has no encoder here: the Catalyst form exceeded the 64 KB
    generated-method limit and ran interpreted, slower than the
    Python codec.
Byte-for-byte equality with the Python packers in functions/wire.py is
pinned by tests/test_wireformat.py (corpus + adversarial boundary
property tests).

Layout recap (canonical smallest encodings, msgpack-c behavior):
  fixarray2 0x92 | fixext8 0xd7 type 0 | sec u32 BE | nsec u32 BE |
  fixmap5 0x85 | fixstr key | value ...
  str:  len<=31 -> 0xA0|len ; <=255 -> 0xd9 len ; <=65535 -> 0xda len16
        ; else 0xdb len32       (len = utf8 OCTETS, not chars)
  int:  0..127 fixint ; -32..-1 negative fixint ; then cc/cd/ce/cf
        unsigned widths, d0/d1/d2/d3 signed widths
  nil:  0xc0
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fluent_bit_spark.functions.wire import (
    _TK_CONV,
    _TK_ROLE,
    _TK_TEXT,
    _TK_TOOL,
    _TK_TURN,
    _TURN_PRELUDE,
    HTTP_CHUNK_SIZE,
)


def _be(col: Column, n: int) -> Column:
    """`n`-byte big-endian binary of a long already proven (by the
    caller's CASE dispatch) to fit in `n` bytes; for negatives the
    caller passes the two's-complement-masked value."""
    return F.to_binary(
        F.lpad(F.hex(col.cast("long")), 2 * n, "0"), F.lit("hex")
    )


def _byte(col: Column) -> Column:
    """Single byte from a 0..255 long expression."""
    return _be(col, 1)


def pack_str_expr(s: Column) -> Column:
    """msgpack str with canonical smallest header, from a string
    Column.  Byte-identical to wire._pack_str."""
    b = F.encode(s, "UTF-8")
    n = F.octet_length(b)
    header = (
        F.when(n <= 31, _byte(F.lit(0xA0).cast("long") + n))
        .when(n <= 0xFF, F.concat(F.lit(b"\xd9"), _byte(n)))
        .when(n <= 0xFFFF, F.concat(F.lit(b"\xda"), _be(n, 2)))
        .otherwise(F.concat(F.lit(b"\xdb"), _be(n, 4)))
    )
    return F.concat(header, b)


def pack_int_expr(v: Column) -> Column:
    """msgpack int with canonical smallest encoding, from a long
    Column.  Byte-identical to wire._pack_int over the full int64
    domain (two's complement via hex() for the 8-byte signed case,
    bitwise masks for the narrower ones)."""
    v = v.cast("long")
    return (
        F.when((v >= 0) & (v <= 0x7F), _byte(v))
        .when((v < 0) & (v >= -32), _byte(v.bitwiseAND(F.lit(0xFF))))
        .when((v > 0) & (v <= 0xFF), F.concat(F.lit(b"\xcc"), _byte(v)))
        .when((v > 0) & (v <= 0xFFFF), F.concat(F.lit(b"\xcd"), _be(v, 2)))
        .when(
            (v > 0) & (v <= 0xFFFFFFFF),
            F.concat(F.lit(b"\xce"), _be(v, 4)),
        )
        .when(v > 0xFFFFFFFF, F.concat(F.lit(b"\xcf"), _be(v, 8)))
        .when(v >= -0x80, F.concat(F.lit(b"\xd0"), _byte(v.bitwiseAND(F.lit(0xFF)))))
        .when(
            v >= -0x8000,
            F.concat(F.lit(b"\xd1"), _be(v.bitwiseAND(F.lit(0xFFFF)), 2)),
        )
        .when(
            v >= -0x80000000,
            F.concat(F.lit(b"\xd2"), _be(v.bitwiseAND(F.lit(0xFFFFFFFF)), 4)),
        )
        # hex() of a negative long is its 16-digit two's complement
        .otherwise(F.concat(F.lit(b"\xd3"), _be(v, 8)))
    )


def pack_nullable_str_expr(s: Column) -> Column:
    """msgpack str or nil (0xc0) for NULL — the `tool` column shape."""
    return F.when(s.isNull(), F.lit(b"\xc0")).otherwise(pack_str_expr(s))


def _u32(col: Column, name: str) -> Column:
    """4-byte big-endian u32 of a long; a value outside [0, 2^32) or
    NULL raises instead of being truncated by `_be`, as
    struct.pack('>I') raises in the Python packer."""
    col = col.cast("long")
    return F.when((col >= 0) & (col < 1 << 32), _be(col, 4)).otherwise(
        F.raise_error(
            F.format_string(f"EventTime {name} %s outside [0, 2^32)", col)
        )
    )


def pack_turn_event_expr(
    sec: Column,
    nsec: Column,
    conv_id: Column,
    turn_idx: Column,
    role: Column,
    text: Column,
    tool: Column,
) -> Column:
    """The reference chunk entry [EventTime ext0, 5-key map] as one
    Catalyst expression — byte-identical to wire.pack_turn_event.  A
    `sec` or `nsec` outside u32 (a timestamp before 1970 or after
    2106) fails the task."""
    return F.concat(
        F.lit(_TURN_PRELUDE),
        _u32(sec, "sec"),
        _u32(nsec, "nsec"),
        F.lit(b"\x85"),
        F.lit(_TK_CONV), pack_str_expr(conv_id),
        F.lit(_TK_TURN), pack_int_expr(turn_idx),
        F.lit(_TK_ROLE), pack_str_expr(role),
        F.lit(_TK_TEXT), pack_str_expr(text),
        F.lit(_TK_TOOL), pack_nullable_str_expr(tool),
    )


def array_header_expr(n: Column) -> Column:
    """msgpack array header (fixarray / array16 / array32) from a
    non-negative long count — wire._pack* array head semantics."""
    return (
        F.when(n <= 15, _byte(F.lit(0x90).cast("long") + n))
        .when(n <= 0xFFFF, F.concat(F.lit(b"\xdc"), _be(n, 2)))
        .otherwise(F.concat(F.lit(b"\xdd"), _be(n, 4)))
    )


def forward_message_bytes(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Forward-mode framing (``[tag, [[EventTime, record], ...]]`` —
    plugins/in_forward/fw_prot.c; out_forward's native send shape)
    entirely JVM-side: per-row event bytes from pack_turn_event_expr,
    grouped on (tag, conv_id) — conversation-bounded messages, the
    same shuffle key as the rest of the pipeline.  Events are ordered
    by (turn_idx, ts), then by their wire bytes, with sort_array, and
    concatenated in one linear pass.  Output (tag, conv_id, n_events,
    message, msg_bytes); byte-identical to wire.pack_forward_message
    over events in that order (pytest-pinned).  No Python anywhere:
    collect_list/sort_array/array_join are all JVM-side expressions.
    This is the one Forward encoder: operators/wireformat.
    forward_roundtrip decodes its output."""
    ev = turn_event_bytes(df, ts_col=ts_col)
    g = ev.groupBy("tag", "conv_id").agg(
        F.count("*").alias("n_events"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    "turn_idx",
                    F.col(ts_col).cast("timestamp").alias("ts"),
                    "wire",
                )
            )
        ).alias("_evs"),
    )
    # linear-time body assembly: hex is concatenation-compatible
    # (unlike base64), so array_join over per-event hex strings builds
    # the payload in one pass — a binary aggregate(concat) fold would
    # re-copy the accumulator per element, O(events²) per conversation
    body = F.unhex(
        F.array_join(
            F.transform(F.col("_evs"), lambda x: F.hex(x["wire"])), ""
        )
    )
    msg = F.concat(
        F.lit(b"\x92"),
        pack_str_expr(F.col("tag")),
        array_header_expr(F.col("n_events")),
        body,
    )
    return g.select(
        "tag",
        "conv_id",
        F.col("n_events").cast("long").alias("n_events"),
        msg.alias("message"),
        F.octet_length(msg).cast("long").alias("msg_bytes"),
    )


def mqtt_remaining_length_expr(n: Column) -> Column:
    """MQTT Remaining Length varint (7 bits/byte, high bit =
    continuation, little groups first — plugins/in_mqtt/
    mqtt_prot.c:341-355) from a long already range-checked by the
    protocol (< 128^4).  Byte-identical to wire.mqtt_remaining_length."""

    def grp(i: int, cont: bool) -> Column:
        b = F.shiftrightunsigned(n, 7 * i).bitwiseAND(F.lit(0x7F))
        if cont:
            b = b.bitwiseOR(F.lit(0x80))
        return _byte(b)

    return (
        F.when(n < 128, grp(0, False))
        .when(n < 128 ** 2, F.concat(grp(0, True), grp(1, False)))
        .when(
            n < 128 ** 3,
            F.concat(grp(0, True), grp(1, True), grp(2, False)),
        )
        .otherwise(
            F.concat(grp(0, True), grp(1, True), grp(2, True), grp(3, False))
        )
    )


def mqtt_publish_expr(
    topic: Column, payload: Column, qos: Column, packet_id: Column
) -> Column:
    """MQTT 3.1.1 PUBLISH frame (DUP=0, RETAIN=0 — mqtt_prot.c:222
    mqtt_handle_publish) as one Catalyst expression; `payload` is a
    string column (utf8 bytes on the wire).  Byte-identical to
    wire.pack_mqtt_publish."""
    t = F.encode(topic, "UTF-8")
    p = F.encode(payload, "UTF-8")
    qos = qos.cast("long")
    has_pid = qos > 0
    rem = (
        F.lit(2).cast("long")
        + F.octet_length(t)
        + F.when(has_pid, F.lit(2)).otherwise(F.lit(0))
        + F.octet_length(p)
    )
    return F.concat(
        _byte(F.lit(0x30).cast("long") + qos * 2),
        mqtt_remaining_length_expr(rem),
        _be(F.octet_length(t), 2),
        t,
        F.when(has_pid, _be(packet_id.cast("long"), 2)).otherwise(F.lit(b"")),
        p,
    )


def mqtt_frame_bytes(df: DataFrame) -> DataFrame:
    """One PUBLISH frame per turn, JVM-side, with exactly
    operators/wireformat.mqtt_roundtrip's field mapping (topic
    fbs/<conv_id>, qos = turn_idx % 3, packet id on the QoS>0
    branch): adds `wire` and `n_bytes`."""
    qos = (F.col("turn_idx") % 3).cast("long")
    wire = mqtt_publish_expr(
        F.concat(F.lit("fbs/"), F.col("conv_id")),
        F.coalesce(F.col("text"), F.lit("")),
        qos,
        F.when(qos > 0, F.col("turn_idx") % 65536).otherwise(F.lit(0)),
    )
    return df.withColumn("wire", wire).withColumn(
        "n_bytes", F.octet_length("wire").cast("long")
    )


def http_chunked_expr(payload: Column, chunk_size: int) -> Column:
    """HTTP/1.1 chunked transfer encoding of a string payload's utf8
    bytes (`<hex size>\\r\\n<bytes>\\r\\n` per chunk, 0-chunk
    terminator — src/flb_http_client.c:258 process_chunked_data) as
    one Catalyst expression.  Chunks come from `transform` over a
    `sequence` of chunk indexes with binary `substring` slices,
    joined linearly through the hex/array_join/unhex trick (hex is
    concatenation-compatible).  Byte-identical to
    wire.http_chunked_encode."""
    if chunk_size <= 0:
        raise ValueError(f"chunk_size must be positive, got {chunk_size}")
    p = F.encode(payload, "UTF-8")
    big = F.octet_length(p).cast("long")
    cs = F.lit(chunk_size).cast("long")
    n = F.ceil(big / cs).cast("long")

    def chunk_hex(i: Column) -> Column:
        size = F.least(cs, big - i * cs)
        header = F.concat(F.lower(F.hex(size)), F.lit("\r\n"))
        return F.concat(
            F.hex(F.encode(header, "UTF-8")),
            F.hex(
                F.substring(
                    p, (i * cs + 1).cast("int"), F.lit(chunk_size)
                )
            ),
            F.lit("0D0A"),
        )

    body_hex = F.when(big == 0, F.lit("")).otherwise(
        F.array_join(
            F.transform(
                F.sequence(F.lit(0).cast("long"), n - 1), chunk_hex
            ),
            "",
        )
    )
    # terminator "0\r\n\r\n"
    return F.unhex(F.concat(body_hex, F.lit("300D0A0D0A")))


def http_chunked_frame_bytes(df: DataFrame) -> DataFrame:
    """Chunk-encode each turn's text JVM-side at HTTP_CHUNK_SIZE with
    exactly operators/wireformat.http_chunked_roundtrip's mapping:
    adds `wire`, `n_chunks`, `n_bytes`."""
    payload = F.coalesce(F.col("text"), F.lit(""))
    big = F.octet_length(F.encode(payload, "UTF-8")).cast("long")
    wire = http_chunked_expr(payload, HTTP_CHUNK_SIZE)
    return (
        df.withColumn("wire", wire)
        .withColumn(
            "n_chunks",
            F.ceil(big / F.lit(HTTP_CHUNK_SIZE).cast("long")).cast("long"),
        )
        .withColumn("n_bytes", F.octet_length("wire").cast("long"))
    )


def turn_event_bytes(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Serialize a transcript frame to reference msgpack event bytes
    entirely JVM-side: adds `wire` (binary) and `n_bytes` (exact wire
    size).  EventTime carries (sec, nsec) split from the timestamp at
    µs grain, matching operators/wireformat.msgpack_roundtrip; a NULL
    timestamp or one outside 1970..2106 fails the task."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    sec = F.floor(us / F.lit(1_000_000)).cast("long")
    nsec = (us - sec * F.lit(1_000_000)) * F.lit(1_000)
    wire = pack_turn_event_expr(
        sec,
        nsec,
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("role"),
        F.col("text"),
        F.col("tool"),
    )
    return df.withColumn("wire", wire).withColumn(
        "n_bytes", F.octet_length("wire").cast("long")
    )
