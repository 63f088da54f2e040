"""Pure-codec round-trips for the ingest protocol envelopes
(ingest/service.py): StreamingClientMessage / StreamingServerMessage
encode/decode built on the spec-driven wire module, no Spark, no socket.
"""

from __future__ import annotations

import pytest

from bristle_spark.ingest import service as svc
from bristle_spark.ingest import wire


def test_write_batch_roundtrip():
    bodies = [b"alpha", b"", b"\x00\xff" * 10]
    env = svc.encode_write_batch(7, bodies, type_name="my.Type")
    kind, body = svc._decode_client_message(env)
    assert kind == "write_batch"
    assert body["id"] == 7
    assert body["type_name"] == "my.Type"
    assert body["type_id"] is None
    assert body["length"] == 3
    assert wire.split_frames(body["data"]) == bodies


def test_write_batch_by_type_id():
    env = svc.encode_write_batch(1, [b"x"], type_id=42)
    _, body = svc._decode_client_message(env)
    assert body["type_id"] == 42
    assert body["type_name"] is None


def test_register_type_roundtrip():
    kind, body = svc._decode_client_message(svc.encode_register_type("a.B"))
    assert kind == "register_message_type"
    assert body["type"] == "a.B"
    assert body["descriptor"] == b""
    kind, body = svc._decode_client_message(
        svc.encode_register_type("a.B", descriptor=b"\x01\x02")
    )
    assert body["descriptor"] == b"\x01\x02"


def test_update_default_roundtrip():
    kind, _ = svc._decode_client_message(svc.encode_update_default("a.B", b"d"))
    assert kind == "update_default"


def test_server_messages_roundtrip():
    kind, body = svc.decode_server_message(svc._encode_batch_result(9, svc.DECODE_ERR))
    assert (kind, body) == ("write_batch_result", {"id": 9, "result": svc.DECODE_ERR})
    # result OK (enum 0) is proto3-default-elided on the wire but decodes back
    kind, body = svc.decode_server_message(svc._encode_batch_result(3, svc.OK))
    assert (kind, body) == ("write_batch_result", {"id": 3, "result": svc.OK})
    kind, body = svc.decode_server_message(svc._encode_identify("a.B", 5))
    assert (kind, body) == ("identify_message_type", {"type": "a.B", "id": 5})


def test_empty_client_message_rejected():
    with pytest.raises(ValueError):
        svc._decode_client_message(b"")


def test_write_batch_property_roundtrip():
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        batch_id=st.integers(min_value=0, max_value=2**32 - 1),
        bodies=st.lists(st.binary(max_size=300), max_size=20),
        type_name=st.text(
            alphabet=st.characters(min_codepoint=33, max_codepoint=126), max_size=40
        ),
    )
    def check(batch_id, bodies, type_name):
        env = svc.encode_write_batch(batch_id, bodies, type_name=type_name or None)
        kind, body = svc._decode_client_message(env)
        assert kind == "write_batch"
        assert body["id"] == batch_id
        assert wire.split_frames(body["data"]) == bodies
        assert body["length"] == len(bodies)

    check()
