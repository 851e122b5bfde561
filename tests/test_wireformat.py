"""Wire-codec tests: canonical spec vectors (hand-derived from the
msgpack spec and the Avro binary-encoding spec) plus Spark-level
roundtrips — the vectors pin the actual byte layout, so a symmetric-
but-wrong codec cannot pass."""

from __future__ import annotations

import pytest

from fluent_bit_spark.functions.wire import (
    avro_decode,
    avro_encode,
    msgpack_pack,
    msgpack_unpack,
    pack_event,
    pack_eventtime,
    unpack_event,
)


class TestMsgpackVectors:
    def test_spec_example(self):
        # THE canonical example from msgpack.org
        assert (
            msgpack_pack({"compact": True, "schema": 0}).hex()
            == "82a7636f6d70616374c3a6736368656d6100"
        )

    @pytest.mark.parametrize(
        "value,hexpect",
        [
            (None, "c0"),
            (True, "c3"),
            (False, "c2"),
            (0, "00"),
            (127, "7f"),
            (128, "cc80"),
            (255, "ccff"),
            (256, "cd0100"),
            (65535, "cdffff"),
            (65536, "ce00010000"),
            (-1, "ff"),
            (-32, "e0"),
            (-33, "d0df"),
            (-129, "d1ff7f"),
            (1.5, "cb3ff8000000000000"),
            ("", "a0"),
            ("abc", "a3616263"),
            ("a" * 31, "bf" + "61" * 31),
            ("a" * 32, "d920" + "61" * 32),
            (b"\x01\x02", "c40201020102"[:8]),
            ([1, 2], "920102"),
            ({}, "80"),
        ],
    )
    def test_scalar_vectors(self, value, hexpect):
        assert msgpack_pack(value).hex() == hexpect

    @pytest.mark.parametrize(
        "value",
        [None, True, 0, 127, 128, 70000, -5, -1000, 1.25, "héllo",
         ["a", 1, None], {"k": [1, {"x": False}]}, b"\x00\xff"],
    )
    def test_roundtrip(self, value):
        got, pos = msgpack_unpack(msgpack_pack(value))
        assert got == value and pos == len(msgpack_pack(value))

    def test_eventtime_matches_flb_time_layout(self):
        # fixext8(0xd7) type 0, 4B sec BE + 4B nsec BE
        # (src/flb_time.c flb_time_append_to_msgpack)
        assert (
            pack_eventtime(0x01020304, 0x0A0B0C0D).hex()
            == "d700010203040a0b0c0d"
        )

    def test_event_envelope(self):
        buf = pack_event(100, 500, {"k": "v"})
        assert buf[0] == 0x92  # fixarray2
        sec, nsec, rec = unpack_event(buf)
        assert (sec, nsec, rec) == (100, 500, {"k": "v"})


class TestAvroVectors:
    SCHEMA = [
        ("a", "long"),
        ("b", "string"),
        ("c", ["null", "string"]),
        ("d", "boolean"),
        ("e", "double"),
    ]

    def test_spec_vector(self):
        # zigzag(1)=02 ; "foo"=06 66 6f 6f (the Avro spec's own
        # example values); union null branch = 00; true = 01;
        # double 1.0 little-endian
        buf = avro_encode(
            {"a": 1, "b": "foo", "c": None, "d": True, "e": 1.0},
            self.SCHEMA,
        )
        assert buf.hex() == "0206666f6f0001000000000000f03f"

    def test_union_value_branch(self):
        buf = avro_encode(
            {"a": -1, "b": "", "c": "x", "d": False, "e": 0.0},
            self.SCHEMA,
        )
        # zigzag(-1)=01 ; empty string 00 ; union idx 1 = 02 then "x"
        assert buf.hex().startswith("010002027800")

    @pytest.mark.parametrize("v", [0, 1, -1, 63, 64, -64, -65, 2**40, -(2**40)])
    def test_zigzag_roundtrip(self, v):
        schema = [("x", "long")]
        assert avro_decode(avro_encode({"x": v}, schema), schema)["x"] == v

    def test_null_in_required_field_raises(self):
        with pytest.raises(ValueError):
            avro_encode({"a": None, "b": "", "c": None, "d": False, "e": 0.0},
                        self.SCHEMA)


class TestSparkRoundtrips:
    def test_msgpack_preserves_rows_and_sizes(self, spark):
        from pyspark.sql import functions as F
        from fluent_bit_spark.operators.wireformat import msgpack_roundtrip

        df = spark.createDataFrame(
            [("c1", 0, "user", "hi", None, "2024-01-01 00:00:00.000001"),
             ("c1", 200, "assistant", "x" * 40, "bash", "2024-01-01 01:00:00")],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts string",
        ).withColumn("ts", F.to_timestamp("ts"))
        out = {r["turn_idx"]: r for r in msgpack_roundtrip(df).collect()}
        assert out[0]["tool"] is None and out[0]["ts"].microsecond == 1
        # row 0: fixed 44 + conv_id(1+2) + turn 1 + role(1+4) + text(1+2)
        #        + tool nil 1
        assert out[0]["n_bytes"] == 44 + 3 + 1 + 5 + 3 + 1
        # row 2: text 40 bytes -> str8 header (2); turn 200 -> uint8 (2)
        assert out[200]["n_bytes"] == 44 + 3 + 2 + 10 + 42 + 5
        assert out[200]["text"] == "x" * 40

    def test_avro_preserves_rows(self, spark):
        from pyspark.sql import functions as F
        from fluent_bit_spark.operators.wireformat import avro_roundtrip

        df = spark.createDataFrame(
            [("c1", 5, "user", "héllo", "grep", "2024-06-01 12:34:56.789012")],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts string",
        ).withColumn("ts", F.to_timestamp("ts"))
        [r] = avro_roundtrip(df).collect()
        assert r["text"] == "héllo" and r["tool"] == "grep"
        assert r["ts"].microsecond == 789012


class TestTensorflowFilter:
    def _model(self):
        from fluent_bit_spark.operators.tensorflow_filter import QuantizedMLP

        return QuantizedMLP(
            w1=[[2, -1, 5], [1, 3, -2], [-1, 2, 4]],
            b1=[10, -20, 5], shift1=4,
            w2=[[3, -2, 6]], b2=[-40], shift2=2,
        )

    def test_hand_traced_inference(self):
        import numpy as np

        m = self._model()
        # x = (100, 20, 1): h = relu([200-20+5+10, 100+60-2-20,
        # -100+40+4+5]) >> 4 = [12, 8, 0]; y = (36-16+0-40) >> 2 = -5
        assert m.infer(np.array([[100, 20, 1]]))[0, 0] == -5
        # negative logit floor: (3*24-2*14-40) = 4 -> 1
        assert m.infer(np.array([[200, 20, 1]]))[0, 0] == 1

    def test_negative_logit_floors(self):
        import numpy as np
        from fluent_bit_spark.operators.tensorflow_filter import QuantizedMLP

        m = QuantizedMLP(w1=[[1]], b1=[0], shift1=0,
                         w2=[[1]], b2=[-3], shift2=1)
        # y = x - 3 >> 1: x=0 -> floor(-3/2) = -2 (not trunc -1)
        assert m.infer(np.array([[0]]))[0, 0] == -2

    def test_shape_validation(self):
        import pytest as _pytest
        from fluent_bit_spark.operators.tensorflow_filter import QuantizedMLP

        with _pytest.raises(ValueError):
            QuantizedMLP(w1=[[1, 2]], b1=[0, 0], shift1=0,
                         w2=[[1]], b2=[0], shift2=0)

    def test_tflite_loader_rejects_non_tflite(self):
        # the loader is real now (tests/test_tflite_loader.py covers the
        # roundtrip); here just pin that non-TFLite bytes fail loudly
        import pytest as _pytest
        from fluent_bit_spark.operators.tensorflow_filter import (
            load_tflite_model,
        )

        with _pytest.raises(ValueError):
            load_tflite_model(b"\x00" * 64)

    def test_spark_filter_appends_score_and_keep(self, spark):
        from fluent_bit_spark.operators.tensorflow_filter import (
            tensorflow_filter,
        )

        df = spark.createDataFrame(
            [(100, 20, 1), (200, 20, 1)], "x_len long, x_words long, x_tool long"
        )
        got = {
            r["x_len"]: (r["score"], r["keep"])
            for r in tensorflow_filter(
                df, self._model(), ["x_len", "x_words", "x_tool"], threshold=0
            ).collect()
        }
        assert got == {100: (-5, False), 200: (1, True)}


class TestForwardProtocol:
    def test_framing_vector(self):
        from fluent_bit_spark.functions.wire import pack_forward_message

        buf = pack_forward_message("t", [(1, 0, {"k": 0})])
        # 92 (outer pair) a1 74 (tag "t") 91 (1 entry)
        # 92 d7 00 00000001 00000000 (EventTime) 81 a1 6b 00 (map)
        assert buf.hex() == "92a1749192d700000000010000000081a16b00"

    def test_multi_event_roundtrip(self):
        from fluent_bit_spark.functions.wire import (
            pack_forward_message,
            unpack_forward_message,
        )

        events = [(i, i * 10, {"n": i}) for i in range(20)]  # > fixarray
        tag, back = unpack_forward_message(
            pack_forward_message("app.log", events)
        )
        assert tag == "app.log" and back == events

    def test_spark_forward_roundtrip(self, spark):
        from pyspark.sql import functions as F
        from fluent_bit_spark.operators.wireformat import forward_roundtrip

        df = spark.createDataFrame(
            [
                ("t.a", "c1", 1, "user", "hi", None, "2024-01-01 00:00:00"),
                ("t.a", "c1", 2, "assistant", "yo", "bash", "2024-01-01 00:01:00"),
                ("t.b", "c1", 1, "user", "hi", None, "2024-01-01 00:00:00"),
            ],
            "tag string, conv_id string, turn_idx int, role string, "
            "text string, tool string, ts string",
        ).withColumn("ts", F.to_timestamp("ts"))
        rows = forward_roundtrip(df).collect()
        by_tag = {}
        for r in rows:
            by_tag.setdefault(r["tag"], []).append(r)
        assert len(by_tag["t.a"]) == 2 and len(by_tag["t.b"]) == 1
        a = sorted(by_tag["t.a"], key=lambda r: r["turn_idx"])
        assert a[0]["n_events"] == 2 and a[0]["msg_bytes"] == a[1]["msg_bytes"]
        assert a[1]["tool"] == "bash" and a[1]["text"] == "yo"
        # single-event message is strictly smaller than the pair
        assert by_tag["t.b"][0]["msg_bytes"] < a[0]["msg_bytes"]

    def test_forward_roundtrip_plan_packs_jvm_side(self, spark):
        """The Forward message is packed by the Catalyst encoder: no
        grouped-pandas packer, and the one Python node is the decode."""
        from pyspark.sql import functions as F
        from fluent_bit_spark.operators.wireformat import forward_roundtrip

        df = spark.createDataFrame(
            [("t.a", "c1", 1, "user", "hi", None, "2024-01-01 00:00:00")],
            "tag string, conv_id string, turn_idx int, role string, "
            "text string, tool string, ts string",
        ).withColumn("ts", F.to_timestamp("ts"))
        plan = forward_roundtrip(df)._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan, plan
        python_nodes = [
            line for line in plan.splitlines()
            if "Python" in line or "Pandas" in line
        ]
        assert len(python_nodes) == 1, plan
        assert "MapInPandas" in python_nodes[0], plan


class TestEventTimeRange:
    """A timestamp the EventTime u32 seconds field cannot hold fails
    loudly on every msgpack encoder instead of emitting wrong bytes."""

    @pytest.mark.parametrize("ansi", ["true", "false"])
    @pytest.mark.parametrize(
        "ts", ["1969-12-31 23:59:59", "2106-02-07 06:28:16"]
    )
    def test_out_of_range_ts_raises(self, spark, monkeypatch, ansi, ts):
        import __spark_entry__ as entry
        from pyspark.sql import functions as F
        from fluent_bit_spark.operators.wireformat import msgpack_roundtrip

        routed = spark.createDataFrame(
            [
                ("t", "c1", 1, "user", "ok", None, "2024-01-01 00:00:00"),
                ("t", "c1", 2, "user", "bad", None, ts),
            ],
            "tag string, conv_id string, turn_idx int, role string, "
            "text string, tool string, ts string",
        ).withColumn("ts", F.to_timestamp("ts"))
        transcripts = routed.drop("tag")
        monkeypatch.setattr(entry, "_routed", lambda spark, sf_dir: routed)
        monkeypatch.setattr(
            entry, "_transcripts", lambda spark, sf_dir: transcripts
        )
        prev = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        try:
            for query in (entry._q_msgpack_wire_jvm, entry._q_forward_roundtrip):
                with pytest.raises(Exception, match="EventTime sec"):
                    query(spark, None).collect()
            # the Python packer refuses the same row
            with pytest.raises(Exception):
                msgpack_roundtrip(transcripts).collect()
        finally:
            spark.conf.set("spark.sql.ansi.enabled", prev)


class TestGelfChunking:
    def test_header_layout_and_reassembly(self):
        from fluent_bit_spark.functions.wire import (
            GELF_HEADER_SIZE,
            gelf_chunk,
            gelf_reassemble,
        )

        payload = bytes(range(256)) * 2  # 512 bytes
        msgid = b"\x01\x02\x03\x04\x05\x06\x07\x08"
        chunks = gelf_chunk(payload, msgid, pckt_size=100)
        assert len(chunks) == 6  # ceil(512/100)
        first = chunks[0]
        assert first[:2] == b"\x1e\x0f" and first[2:10] == msgid
        assert first[10] == 0 and first[11] == 6
        assert len(first) == GELF_HEADER_SIZE + 100
        assert len(chunks[-1]) == GELF_HEADER_SIZE + 12  # 512 - 5*100
        # reassembly survives shuffling (UDP reordering)
        assert gelf_reassemble(chunks[::-1]) == payload

    def test_small_payload_unchunked(self):
        from fluent_bit_spark.functions.wire import gelf_chunk, gelf_reassemble

        [d] = gelf_chunk(b"small", b"\x00" * 8, pckt_size=100)
        assert d == b"small"
        assert gelf_reassemble([d]) == b"small"

    def test_over_128_chunks_rejected(self):
        import pytest as _pytest
        from fluent_bit_spark.functions.wire import gelf_chunk

        with _pytest.raises(ValueError):
            gelf_chunk(b"x" * 200, b"\x00" * 8, pckt_size=1)

    def test_plan_matches_real_chunker(self, spark):
        """The closed-form plan must agree with the byte-level chunker
        datagram for datagram."""
        from fluent_bit_spark.functions.wire import gelf_chunk
        from fluent_bit_spark.sinks import gelf_chunk_plan

        rows = [("a", "x" * 50), ("b", "y" * 64), ("c", "z" * 65),
                ("d", "w" * 1000)]
        df = spark.createDataFrame(rows, "id string, payload string")
        got = {
            r["id"]: (r["n_chunks"], r["wire_bytes"], r["chunked"])
            for r in gelf_chunk_plan(df, "payload", pckt_size=64).collect()
        }
        for rid, p in rows:
            real = gelf_chunk(p.encode(), b"\x00" * 8, 64)
            assert got[rid][0] == len(real)
            assert got[rid][1] == sum(len(c) for c in real)
            assert got[rid][2] == (len(p) > 64)


class TestKafkaBatch:
    """KIP-98 v2 record-batch vectors (the on-disk/wire message
    format magic 2): fixed header layout, CRC-32C, zigzag-varint
    record bodies — hand-checked offsets, so a symmetric-but-wrong
    packer cannot pass."""

    def test_crc32c_spec_vector(self):
        from fluent_bit_spark.functions.wire import crc32c

        # the canonical CRC-32C check value (RFC 3720 appendix B.4)
        assert crc32c(b"123456789") == 0xE3069283
        assert crc32c(b"") == 0

    def test_header_layout(self):
        from fluent_bit_spark.functions.wire import pack_kafka_batch

        buf = pack_kafka_batch([(1_000, b"k", b"v")])
        assert buf[:8] == (0).to_bytes(8, "big")          # baseOffset
        assert buf[16] == 2                               # magic
        assert int.from_bytes(buf[8:12], "big") == len(buf) - 12
        assert int.from_bytes(buf[12:16], "big", signed=True) == -1
        assert int.from_bytes(buf[21:23], "big") == 0     # attributes
        assert int.from_bytes(buf[23:27], "big") == 0     # lastOffsetDelta
        assert int.from_bytes(buf[27:35], "big") == 1_000  # baseTimestamp
        assert int.from_bytes(buf[35:43], "big") == 1_000  # maxTimestamp
        assert int.from_bytes(buf[43:51], "big", signed=True) == -1
        assert int.from_bytes(buf[57:61], "big") == 1     # recordCount

    def test_single_record_body_bytes(self):
        from fluent_bit_spark.functions.wire import (
            KAFKA_BATCH_OVERHEAD,
            pack_kafka_batch,
        )

        buf = pack_kafka_batch([(5, b"ab", b"xyz")])
        body = buf[KAFKA_BATCH_OVERHEAD:]
        # body = attrs(1) + tsdelta(1) + offdelta(1) + keylen(1) +
        # key(2) + vallen(1) + val(3) + headers(1) = 11 -> zz 22 (0x16)
        assert body.hex() == "16" + "00" + "00" + "00" + "04" + b"ab".hex() \
            + "06" + b"xyz".hex() + "00"

    def test_roundtrip_null_key_and_negative_ts_delta(self):
        from fluent_bit_spark.functions.wire import (
            pack_kafka_batch,
            unpack_kafka_batch,
        )

        recs = [(2_000, b"k0", b"first"), (1_500, None, b""),
                (2_500, b"k2", b"third")]
        back, crc_ok = unpack_kafka_batch(pack_kafka_batch(recs))
        assert back == recs and crc_ok
        buf = pack_kafka_batch(recs)
        assert int.from_bytes(buf[27:35], "big") == 2_000   # base = first
        assert int.from_bytes(buf[35:43], "big") == 2_500   # max

    def test_corrupt_payload_fails_crc(self):
        from fluent_bit_spark.functions.wire import (
            pack_kafka_batch,
            unpack_kafka_batch,
        )

        buf = bytearray(pack_kafka_batch([(0, b"k", b"value")]))
        buf[-2] ^= 0xFF  # inside the value bytes (last byte is headers varint)
        _, crc_ok = unpack_kafka_batch(bytes(buf))
        assert not crc_ok

    def test_bad_magic_and_length_rejected(self):
        from fluent_bit_spark.functions.wire import (
            pack_kafka_batch,
            unpack_kafka_batch,
        )

        buf = bytearray(pack_kafka_batch([(0, b"k", b"v")]))
        good = bytes(buf)
        buf[16] = 1
        with pytest.raises(ValueError, match="magic"):
            unpack_kafka_batch(bytes(buf))
        with pytest.raises(ValueError, match="batchLength"):
            unpack_kafka_batch(good + b"\x00")

    def test_empty_batch_rejected(self):
        from fluent_bit_spark.functions.wire import pack_kafka_batch

        with pytest.raises(ValueError, match="empty"):
            pack_kafka_batch([])

    def test_spark_batches_match_closed_form(self, spark):
        import pyspark.sql.functions as F

        from fluent_bit_spark.operators.wireformat import (
            kafka_batch_roundtrip,
        )

        df = spark.createDataFrame(
            [
                ("c1", 0, "user", "hello", None,
                 __import__("datetime").datetime(2024, 1, 1, 0, 0, 0)),
                ("c1", 1, "assistant", "world", "search",
                 __import__("datetime").datetime(2024, 1, 1, 0, 0, 2)),
                ("c2", 0, "user", "x" * 300, None,
                 __import__("datetime").datetime(2024, 1, 1, 1, 0, 0)),
            ],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        rows = {
            r["conv_id"]: r
            for r in kafka_batch_roundtrip(df).collect()
        }
        assert rows["c1"]["n_records"] == 2
        assert rows["c2"]["n_records"] == 1
        assert all(r["crc_ok"] for r in rows.values())
        # c1: 2s between turns -> ts delta 2000 ms
        assert rows["c1"]["max_ts_ms"] - rows["c1"]["base_ts_ms"] == 2_000
        # independently repack c2 and compare the exact byte count
        from fluent_bit_spark.functions.wire import (
            pack_event,
            pack_kafka_batch,
        )

        ts_us = int(
            __import__("datetime")
            .datetime(2024, 1, 1, 1, 0, 0)
            .replace(tzinfo=__import__("datetime").timezone.utc)
            .timestamp()
            * 1_000_000
        )
        val = pack_event(
            ts_us // 1_000_000,
            (ts_us % 1_000_000) * 1000,
            {"conv_id": "c2", "turn_idx": 0, "role": "user",
             "text": "x" * 300, "tool": None},
        )
        expect = len(pack_kafka_batch([(ts_us // 1000, b"c2", val)]))
        assert rows["c2"]["batch_bytes"] == expect


def test_mqtt_remaining_length_vectors():
    from fluent_bit_spark.functions.wire import mqtt_remaining_length

    # MQTT 3.1.1 spec table 2.4 boundary vectors
    assert mqtt_remaining_length(0) == b"\x00"
    assert mqtt_remaining_length(127) == b"\x7f"
    assert mqtt_remaining_length(128) == b"\x80\x01"
    assert mqtt_remaining_length(16383) == b"\xff\x7f"
    assert mqtt_remaining_length(16384) == b"\x80\x80\x01"
    assert mqtt_remaining_length(2097152) == b"\x80\x80\x80\x01"


def test_mqtt_publish_roundtrip_and_layout():
    from fluent_bit_spark.functions.wire import (
        pack_mqtt_publish,
        unpack_mqtt_publish,
    )

    b = pack_mqtt_publish("t/1", b"payload", qos=2, packet_id=300)
    assert b[0] == 0x30 | (2 << 1)
    assert unpack_mqtt_publish(b) == (2, "t/1", 300, b"payload")
    # qos0: no packet id in the variable header
    b0 = pack_mqtt_publish("t", b"x")
    assert len(b0) == 1 + 1 + 2 + 1 + 1
    assert unpack_mqtt_publish(b0) == (0, "t", 0, b"x")


def test_collectd_packet_roundtrip():
    from fluent_bit_spark.functions.wire import (
        DS_COUNTER,
        DS_DERIVE,
        DS_GAUGE,
        pack_collectd,
        unpack_collectd,
    )

    buf = pack_collectd(
        "h", "cpu", "0", "gauge", None, 1700000001,
        [(DS_GAUGE, 0.25), (DS_COUNTER, 2**40), (DS_DERIVE, -7)],
    )
    h = unpack_collectd(buf)
    assert h["host"] == "h" and "type_instance" not in h
    assert h["time_sec"] == 1700000001
    assert h["values"] == [(1, 0.25), (0, 2**40), (2, -7)]
    # string part: 4-byte header (type 0, len 4+2) + NUL-terminated body
    assert buf[:4] == b"\x00\x00\x00\x06" and buf[4:6] == b"h\x00"


def test_http_chunked_vectors():
    from fluent_bit_spark.functions.wire import (
        http_chunked_decode,
        http_chunked_encode,
    )

    assert http_chunked_encode(b"", 8) == b"0\r\n\r\n"
    b = http_chunked_encode(b"abcdefgh" + b"ij", 8)
    assert b == b"8\r\nabcdefgh\r\n2\r\nij\r\n0\r\n\r\n"
    assert http_chunked_decode(b) == b"abcdefghij"
    # exact multiple of the chunk size: no empty data chunk emitted
    b2 = http_chunked_encode(b"abcdefgh", 8)
    assert b2 == b"8\r\nabcdefgh\r\n0\r\n\r\n"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        http_chunked_decode(b"2\r\nab\r\n")  # missing 0-chunk
    with _pytest.raises(ValueError):
        http_chunked_decode(b"3\r\nab\r\n0\r\n\r\n")  # size > data


class TestWebsocketFrames:
    """plugins/out_websocket/websocket.c:84-156 frame layout."""

    def test_header_vectors(self):
        from fluent_bit_spark.functions.wire import pack_ws_frame

        # 7-bit branch: 5-byte payload -> 0x81, 0x80|5, key, masked
        f = pack_ws_frame(b"hello")
        assert f[:6] == bytes([0x81, 0x85, 0x12, 0x34, 0x56, 0x78])
        assert len(f) == 6 + 5
        # masked first byte: 'h' ^ 0x12
        assert f[6] == ord("h") ^ 0x12
        # 16-bit branch at exactly 126
        f = pack_ws_frame(b"x" * 126)
        assert f[:2] == bytes([0x81, 0x80 | 126])
        assert f[2:4] == (126).to_bytes(2, "big")
        assert len(f) == 8 + 126
        # 64-bit branch at exactly 65536
        f = pack_ws_frame(b"y" * 65536)
        assert f[:2] == bytes([0x81, 0x80 | 127])
        assert f[2:10] == (65536).to_bytes(8, "big")
        assert len(f) == 14 + 65536

    def test_mask_is_involution(self):
        from fluent_bit_spark.functions.wire import ws_mask

        data = bytes(range(256)) * 3 + b"tail"
        assert ws_mask(ws_mask(data)) == data
        assert ws_mask(b"") == b""

    def test_unmasked_frame_rejected(self):
        import pytest as _pytest

        from fluent_bit_spark.functions.wire import unpack_ws_frame

        with _pytest.raises(ValueError):
            unpack_ws_frame(bytes([0x81, 0x05]) + b"hello" + b"\x00" * 4)
        with _pytest.raises(ValueError):
            unpack_ws_frame(bytes([0x81, 0x85, 0x12, 0x34, 0x56, 0x78, 0x00]))


class TestKafkaProduceRequest:
    """Produce v3 envelope (public Kafka protocol) around the v2 batch."""

    def test_layout_and_roundtrip(self):
        from fluent_bit_spark.functions.wire import (
            pack_kafka_batch,
            pack_kafka_produce_request,
            unpack_kafka_produce_request,
        )

        batch = pack_kafka_batch([(1000, b"k", b"v")])
        req = pack_kafka_produce_request("cid", "top", 7, batch,
                                         acks=1, timeout_ms=5000,
                                         correlation_id=42)
        # size prefix counts bytes after itself
        assert int.from_bytes(req[:4], "big") == len(req) - 4
        # header: api_key=0, api_version=3
        assert req[4:8] == b"\x00\x00\x00\x03"
        h = unpack_kafka_produce_request(req)
        assert h["correlation_id"] == 42 and h["acks"] == 1
        assert h["timeout_ms"] == 5000 and h["partition"] == 7
        assert h["transactional_id"] is None
        assert h["record_set"] == batch
        assert len(req) == 40 + 3 + 3 + len(batch)

    def test_malformed_rejected(self):
        import pytest as _pytest

        from fluent_bit_spark.functions.wire import (
            pack_kafka_batch,
            pack_kafka_produce_request,
            unpack_kafka_produce_request,
        )

        batch = pack_kafka_batch([(1, None, b"v")])
        req = pack_kafka_produce_request("c", "t", 0, batch)
        with _pytest.raises(ValueError, match="size prefix"):
            unpack_kafka_produce_request(req + b"X")
        bad = bytearray(req)
        bad[5] = 9  # api_key -> 9 (Fetch would be 1; 9 is OffsetForLeader)
        with _pytest.raises(ValueError, match="not a Produce"):
            unpack_kafka_produce_request(bytes(bad))


class TestTurnFastPath:
    """pack_turn_event / unpack_turn_event must be byte-identical to the
    generic codec over the whole transcript value space."""

    def _cases(self):
        from hypothesis import strategies as st
        from hypothesis import given, settings

        return given(
            conv=st.text(min_size=0, max_size=80),
            ti=st.integers(min_value=0, max_value=2**31 - 1),
            role=st.sampled_from(["user", "assistant", "system", "tool", ""]),
            text=st.text(min_size=0, max_size=300),
            tool=st.one_of(st.none(), st.text(min_size=0, max_size=40)),
            us=st.integers(min_value=0, max_value=2**31 * 1_000_000),
        ), settings(max_examples=300, deadline=None)

    def test_bytes_identical_to_generic(self):
        from fluent_bit_spark.functions.wire import pack_turn_event

        given_deco, settings_deco = self._cases()

        @given_deco
        @settings_deco
        def check(conv, ti, role, text, tool, us):
            sec, rem = divmod(us, 1_000_000)
            nsec = rem * 1000
            rec = {
                "conv_id": conv, "turn_idx": ti, "role": role,
                "text": text, "tool": tool,
            }
            assert pack_turn_event(
                sec, nsec, conv, ti, role, text, tool
            ) == pack_event(sec & 0xFFFFFFFF, nsec, rec)

        check()

    def test_fast_decode_agrees_with_generic(self):
        from fluent_bit_spark.functions.wire import (
            pack_turn_event,
            unpack_turn_event,
        )

        given_deco, settings_deco = self._cases()

        @given_deco
        @settings_deco
        def check(conv, ti, role, text, tool, us):
            sec, rem = divmod(us, 1_000_000)
            sec &= 0xFFFFFFFF
            nsec = rem * 1000
            buf = pack_turn_event(sec, nsec, conv, ti, role, text, tool)
            fast = unpack_turn_event(buf)
            assert fast is not None
            gsec, gnsec, grec = unpack_event(buf)
            assert fast == (gsec, gnsec, grec)

        check()

    def test_fast_decode_declines_foreign_shapes(self):
        from fluent_bit_spark.functions.wire import unpack_turn_event

        # different map keys -> decline (None), not a wrong decode
        buf = pack_event(1, 0, {"other": "x"})
        assert unpack_turn_event(buf) is None
        # trailing garbage -> decline
        from fluent_bit_spark.functions.wire import pack_turn_event

        good = pack_turn_event(1, 0, "c", 1, "user", "t", None)
        assert unpack_turn_event(good + b"\x00") is None

    def test_td_record_bytes_identical_to_generic(self):
        from hypothesis import given, settings, strategies as st
        from fluent_bit_spark.functions.wire import pack_td_record

        @given(
            t=st.integers(min_value=0, max_value=2**32 - 1),
            conv=st.text(max_size=60),
            ti=st.integers(min_value=0, max_value=2**31 - 1),
            role=st.sampled_from(["user", "assistant", "system", "tool"]),
            text=st.text(max_size=300),
            tool=st.one_of(st.none(), st.text(max_size=40)),
        )
        @settings(max_examples=200, deadline=None)
        def check(t, conv, ti, role, text, tool):
            m = {
                "time": t, "conv_id": conv, "turn_idx": ti,
                "role": role, "text": text, "tool": tool,
            }
            assert pack_td_record(*m.values()) == msgpack_pack(m)

        check()


class TestJvmExprEncoder:
    """functions/wire_expr.py: the whole-stage-codegen msgpack encoder
    must be byte-identical to the Python packer — corpus rows plus the
    adversarial header boundaries (fixstr/str8/str16, fixint/uint
    widths, negative widths, multibyte utf8 where octet_length !=
    char length, NULL tool)."""

    BOUNDARY_STRINGS = [
        "",
        "a" * 31,                 # fixstr max
        "a" * 32,                 # first str8
        "a" * 255,                # str8 max
        "a" * 256,                # first str16
        "a" * 65535,              # str16 max
        "a" * 65536,              # first str32
        "é" * 20,                 # 40 octets / 20 chars -> str8 not fixstr
        "日本語テキスト",            # 3-byte utf8
        "emoji \U0001f389 tail",  # 4-byte utf8
        'quotes " and \\ and \n newline \t tab',
    ]
    BOUNDARY_INTS = [
        0, 1, 127, 128, 255, 256, 65535, 65536,
        2**32 - 1, 2**32, 2**63 - 1,
        -1, -31, -32, -33, -127, -128, -129,
        -32768, -32769, -(2**31), -(2**31) - 1, -(2**63),
    ]

    def _pairs(self, spark, rows):
        """(python_bytes, jvm_bytes) per row via one Spark job."""
        from fluent_bit_spark.functions.wire import pack_turn_event
        from fluent_bit_spark.functions.wire_expr import pack_turn_event_expr
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            rows, "sec long, nsec long, conv_id string, turn_idx long, "
                  "role string, text string, tool string"
        )
        got = df.select(
            pack_turn_event_expr(
                F.col("sec"), F.col("nsec"), F.col("conv_id"),
                F.col("turn_idx"), F.col("role"), F.col("text"),
                F.col("tool"),
            ).alias("wire"),
            "*",
        ).collect()
        return [
            (
                pack_turn_event(
                    r["sec"], r["nsec"], r["conv_id"], r["turn_idx"],
                    r["role"], r["text"], r["tool"],
                ),
                bytes(r["wire"]),
            )
            for r in got
        ]

    def test_boundary_strings_and_ints_byte_identical(self, spark):
        rows = [
            (1700000000, 999999000, s, i, "user", s, None)
            for s in self.BOUNDARY_STRINGS
            for i in self.BOUNDARY_INTS[:6]
        ] + [
            (0, 0, "c", i, "assistant", "t", "bash")
            for i in self.BOUNDARY_INTS
        ]
        for py, jvm in self._pairs(spark, rows):
            assert py == jvm, (py.hex()[:80], jvm.hex()[:80])

    def test_corpus_byte_identical_and_wire_size(self, spark, sf_dir):
        """Every transcript row at sf0.001: JVM bytes == Python bytes,
        and turn_event_bytes' n_bytes equals the Python wire size."""
        from fluent_bit_spark.functions.wire import pack_turn_event
        from fluent_bit_spark.functions.wire_expr import turn_event_bytes
        from fluent_bit_spark.transcripts import load_transcripts

        t = load_transcripts(spark, sf_dir)
        out = turn_event_bytes(
            t.withColumn("ts", t["ts"].cast("timestamp"))
        ).collect()
        assert len(out) > 0
        for r in out:
            us = r["ts"].replace(tzinfo=None)
            import calendar

            usec = calendar.timegm(us.timetuple()) * 1_000_000 + us.microsecond
            py = pack_turn_event(
                usec // 1_000_000,
                (usec % 1_000_000) * 1_000,
                r["conv_id"], r["turn_idx"], r["role"], r["text"],
                r["tool"],
            )
            assert bytes(r["wire"]) == py
            assert r["n_bytes"] == len(py)

    def test_whole_stage_codegen_no_python(self, spark):
        """The serialize stage must be pure JVM: no BatchEvalPython /
        ArrowEvalPython / mapInPandas anywhere in the plan."""
        from fluent_bit_spark.functions.wire_expr import turn_event_bytes

        df = spark.createDataFrame(
            [("c", 1, "user", "t", "bash", "2024-01-01 00:00:00")],
            "conv_id string, turn_idx long, role string, text string, "
            "tool string, ts string",
        ).withColumn("ts", __import__("pyspark").sql.functions.col("ts").cast("timestamp"))
        plan = turn_event_bytes(df)._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Pandas" not in plan, plan


class TestJvmForwardFraming:
    """wire_expr.forward_message_bytes: the Forward-mode message per
    (tag, conv_id) must be byte-identical to wire.pack_forward_message
    over events ordered by (turn_idx, ts, event bytes), with a
    Python-free plan."""

    @staticmethod
    def _python_messages(rows) -> dict:
        """(tag, conv_id) -> wire.pack_forward_message bytes, events
        sorted as forward_message_bytes documents."""
        import calendar

        from fluent_bit_spark.functions.wire import (
            pack_forward_message,
            pack_turn_event,
        )

        groups: dict = {}
        for r in rows:
            naive = r["ts"].replace(tzinfo=None)
            us = (
                calendar.timegm(naive.timetuple()) * 1_000_000
                + naive.microsecond
            )
            sec, nsec = us // 1_000_000, (us % 1_000_000) * 1_000
            rec = {
                "conv_id": r["conv_id"],
                "turn_idx": r["turn_idx"],
                "role": r["role"],
                "text": r["text"],
                "tool": r["tool"],
            }
            key = (r["turn_idx"], us, pack_turn_event(sec, nsec, *rec.values()))
            groups.setdefault((r["tag"], r["conv_id"]), []).append(
                (key, (sec, nsec, rec))
            )
        return {
            g: pack_forward_message(g[0], [e for _, e in sorted(evs)])
            for g, evs in groups.items()
        }

    def _assert_identical(self, t):
        from fluent_bit_spark.functions.wire_expr import forward_message_bytes

        out_df = forward_message_bytes(t)
        plan = out_df._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Pandas" not in plan, plan
        want = self._python_messages(t.collect())
        got = {(r["tag"], r["conv_id"]): r for r in out_df.collect()}
        assert set(got) == set(want)
        for key, py in want.items():
            r = got[key]
            assert bytes(r["message"]) == py, key
            assert r["msg_bytes"] == len(py)

    def test_corpus_messages_byte_identical(self, spark, sf_dir):
        from fluent_bit_spark.transcripts import load_transcripts
        from pyspark.sql import functions as F

        t = load_transcripts(spark, sf_dir).withColumn(
            "tag", F.concat(F.lit("fbs."), F.col("role"))
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        self._assert_identical(t)

    def test_duplicate_turn_idx_orders_by_ts(self, spark):
        """Duplicate turn_idx inside one message: the tie breaks on ts
        (then on the event bytes), not on arrival order."""
        from pyspark.sql import functions as F

        rows = [
            ("t", "c1", 2, "user", "nn", None, "2024-01-01 00:00:09"),
            ("t", "c1", 2, "user", "zz", None, "2024-01-01 00:00:01"),
            ("t", "c1", 1, "user", "first", None, "2024-01-01 00:00:05"),
            ("t", "c1", 2, "user", "mm", "bash", "2024-01-01 00:00:01"),
            ("t", "c1", 2, "user", "aa", None, "2024-01-01 00:00:01"),
            ("t", "c2", 7, "tool", "other", None, "2024-01-01 00:00:01"),
        ]
        t = spark.createDataFrame(
            rows,
            "tag string, conv_id string, turn_idx int, role string, "
            "text string, tool string, ts string",
        ).withColumn("ts", F.to_timestamp("ts"))
        self._assert_identical(t)
        from fluent_bit_spark.functions.wire import unpack_forward_message
        from fluent_bit_spark.functions.wire_expr import forward_message_bytes

        [r] = forward_message_bytes(t.where("conv_id = 'c1'")).collect()
        _, back = unpack_forward_message(bytes(r["message"]))
        # turn_idx first, then ts ("nn" is last although its bytes
        # sort before "zz"), then the three 00:00:01 turns by bytes
        assert [rec["text"] for _, _, rec in back] == [
            "first", "aa", "mm", "zz", "nn",
        ]


class TestJvmMqttEncoder:
    """wire_expr.mqtt_publish_expr: byte-identical to
    wire.pack_mqtt_publish over Remaining-Length varint width
    boundaries, both QoS branches, multibyte utf8, and the corpus."""

    def test_boundaries_byte_identical(self, spark):
        from fluent_bit_spark.functions.wire import pack_mqtt_publish
        from fluent_bit_spark.functions.wire_expr import mqtt_publish_expr
        from pyspark.sql import functions as F

        # payload sizes straddling the 1/2/3-byte Remaining-Length
        # boundaries after the 2+topic(+2) header contribution
        rows = []
        for qos in (0, 1, 2):
            for pn in (0, 1, 100, 120, 128, 16000, 16384, 2_100_000):
                rows.append(("fbs/conv-é", "x" * pn, qos, 54321 if qos else 0))
        df = spark.createDataFrame(
            rows, "topic string, payload string, qos int, packet_id int"
        )
        got = df.select(
            mqtt_publish_expr(
                F.col("topic"), F.col("payload"), F.col("qos"),
                F.col("packet_id"),
            ).alias("wire"),
            "*",
        ).collect()
        for r in got:
            py = pack_mqtt_publish(
                r["topic"], r["payload"].encode("utf-8"),
                qos=r["qos"], packet_id=r["packet_id"],
            )
            assert bytes(r["wire"]) == py, (r["qos"], len(r["payload"]))

    def test_corpus_byte_identical_plan_python_free(self, spark, sf_dir):
        from fluent_bit_spark.functions.wire import pack_mqtt_publish
        from fluent_bit_spark.functions.wire_expr import mqtt_frame_bytes
        from fluent_bit_spark.transcripts import load_transcripts

        t = load_transcripts(spark, sf_dir)
        out_df = mqtt_frame_bytes(t)
        plan = out_df._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Pandas" not in plan, plan
        for r in out_df.collect():
            qos = r["turn_idx"] % 3
            py = pack_mqtt_publish(
                f"fbs/{r['conv_id']}",
                (r["text"] or "").encode("utf-8"),
                qos=qos,
                packet_id=(r["turn_idx"] % 65536) if qos else 0,
            )
            assert bytes(r["wire"]) == py
            assert r["n_bytes"] == len(py)


class TestJvmHttpChunkedEncoder:
    """wire_expr.http_chunked_expr: byte-identical to
    wire.http_chunked_encode over chunk-count boundaries, multibyte
    utf8 split mid-codepoint at a chunk boundary, and the corpus."""

    def test_boundaries_byte_identical(self, spark):
        from fluent_bit_spark.functions.wire import http_chunked_encode
        from fluent_bit_spark.functions.wire_expr import http_chunked_expr
        from pyspark.sql import functions as F

        payloads = [
            "", "a", "a" * 15, "a" * 16, "a" * 47, "a" * 48, "a" * 49,
            "a" * 96, "a" * 97, "x" * 500,
            # 2-byte utf8 straddling the 48-byte boundary: 23 chars
            # = 46 bytes, +1 ascii = 47, the é then splits 47|49
            "b" * 47 + "é" + "tail",
            "é" * 100,
        ]
        df = spark.createDataFrame([(p,) for p in payloads], "payload string")
        got = df.select(
            "payload",
            http_chunked_expr(F.col("payload"), 48).alias("wire"),
        ).collect()
        for r in got:
            py = http_chunked_encode(r["payload"].encode("utf-8"), 48)
            assert bytes(r["wire"]) == py, len(r["payload"])

    def test_corpus_byte_identical_plan_python_free(self, spark, sf_dir):
        from fluent_bit_spark.functions.wire import http_chunked_encode
        from fluent_bit_spark.functions.wire_expr import http_chunked_frame_bytes
        from fluent_bit_spark.transcripts import load_transcripts

        t = load_transcripts(spark, sf_dir)
        out_df = http_chunked_frame_bytes(t)
        plan = out_df._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Pandas" not in plan, plan
        for r in out_df.collect():
            payload = (r["text"] or "").encode("utf-8")
            py = http_chunked_encode(payload, 48)
            assert bytes(r["wire"]) == py
            assert r["n_bytes"] == len(py)
            assert r["n_chunks"] == -(-len(payload) // 48)
