"""The reference's BristleIngestService protocol, transport-agnostic:
envelope codec, BatchResult codes, the shared validate-and-land batch
path and client-side Backoff handling. The HTTP/2-gRPC front door
(grpc_transport.py) serves it on the network.

The reference registers a gRPC service (ingest_service.go:63-65) whose
``Streaming`` RPC (ingest_service.go:184-234) carries
``StreamingClientMessage`` / ``StreamingServerMessage`` protos:
register-message-type handshakes, varint-framed write batches, and
per-batch ``BatchResult`` acks (bristle.proto, service + enum). The
envelope codec is the repo's own spec-driven wire module (wire.py), the
same one the decode path uses.

Session semantics mirror ingest_service.go:

- register_message_type (ingest_service.go:196-217): assigns an
  incrementing per-session uint32 id and replies identify_message_type;
  a non-empty descriptor is ErrUnsupported and terminates the session,
  exactly like the reference's early return.
- write_batch (ingest_service.go:122-180, 218-227): resolved via the
  session's type-id map or the inline type name; unknown types ack
  UNK_MESSAGE, malformed bodies DECODE_ERR, an over-limit batch TOO_BIG
  (clickhouse_table.go WriteBatch's size check), and more than
  ``max_in_flight`` concurrent batches TOO_MANY_IN_FLIGHT_BATCHES
  (ingest_service.go:219-222, semaphore of 12).
- update_default (ingest_service.go:228-230): ErrUnsupported, session
  terminated — the reference's own behavior (S13).

Where the reference acks after writing rows into an in-memory buffer
that a ticker flushes to ClickHouse (best-effort: a failed flush drops
the batch), ``process_batch`` acks after landing the validated batch as
a durable payload parquet file in the bound table's landing zone; the
checkpointed Structured Streaming writer (server.py / ingest_stream.py)
then drains it exactly-once into the sink. TRANSCODE_ERR cannot occur
per-row here because bindings validate eagerly at bind time
(bindings.py, reference clickhouse_table.go:204-226); DECODE_ERR is
checked frame-by-frame before the ack.
"""

from __future__ import annotations

import os
import uuid

from bristle_spark.ingest import wire

# BatchResult (bristle.proto enum)
OK = 0
TOO_BIG = 1
FULL = 2
UNK_MESSAGE = 3
DECODE_ERR = 4
TRANSCODE_ERR = 5
TOO_MANY_IN_FLIGHT_BATCHES = 6

RESULT_NAMES = {
    OK: "OK",
    TOO_BIG: "TOO_BIG",
    FULL: "FULL",
    UNK_MESSAGE: "UNK_MESSAGE",
    DECODE_ERR: "DECODE_ERR",
    TRANSCODE_ERR: "TRANSCODE_ERR",
    TOO_MANY_IN_FLIGHT_BATCHES: "TOO_MANY_IN_FLIGHT_BATCHES",
}

# StreamingClientMessage oneof field numbers (bristle.proto)
_CM_WRITE_BATCH = 1
_CM_UPDATE_DEFAULT = 2
_CM_REGISTER_TYPE = 3
# StreamingServerMessage oneof field numbers
_SM_WRITE_BATCH_RESULT = 1
_SM_BACKOFF = 2
_SM_IDENTIFY_TYPE = 3


# ------------------------------------------------------- envelope codec


def encode_write_batch(
    batch_id: int,
    bodies: list[bytes],
    type_name: str | None = None,
    type_id: int | None = None,
) -> bytes:
    """Client-side StreamingClientMessage{write_batch} (the repo's
    equivalent of the reference client's batch framing,
    client/client.go:148-156)."""
    inner = wire.encode_message(
        [
            (1, "uint32", batch_id, False),
            (2, "string", type_name, False),
            (3, "uint32", type_id, False),
            (4, "uint32", len(bodies), False),
            (5, "bytes", wire.join_frames(bodies), False),
        ]
    )
    return wire.encode_message([(_CM_WRITE_BATCH, "bytes", inner, False)])


def encode_register_type(type_name: str, descriptor: bytes = b"") -> bytes:
    inner = wire.encode_message(
        [(1, "string", type_name, False), (2, "bytes", descriptor or None, False)]
    )
    return wire.encode_message([(_CM_REGISTER_TYPE, "bytes", inner, False)])


def encode_update_default(type_name: str, default: bytes = b"") -> bytes:
    inner = wire.encode_message(
        [(1, "string", type_name, False), (2, "bytes", default or None, False)]
    )
    return wire.encode_message([(_CM_UPDATE_DEFAULT, "bytes", inner, False)])


def _encode_batch_result(batch_id: int, result: int) -> bytes:
    inner = wire.encode_message(
        [(1, "uint32", batch_id, False), (2, "enum", result or None, False)]
    )
    return wire.encode_message([(_SM_WRITE_BATCH_RESULT, "bytes", inner, False)])


def _encode_identify(type_name: str, type_id: int) -> bytes:
    inner = wire.encode_message(
        [(1, "string", type_name, False), (2, "uint32", type_id, False)]
    )
    return wire.encode_message([(_SM_IDENTIFY_TYPE, "bytes", inner, False)])


def encode_backoff(until_ms: int, types: list[str]) -> bytes:
    """StreamingServerMessageBackoff (bristle.proto:96-99): advise
    clients to defer sends for ``types`` (empty = all types) until the
    epoch-millisecond ``until``. Declared-only in the reference server
    (never emitted); this repo emits it as an admission-control advisory
    alongside TOO_MANY_IN_FLIGHT_BATCHES when configured."""
    inner = wire.encode_message(
        [(1, "uint64", until_ms or None, False), (2, "string", types, True)]
    )
    return wire.encode_message([(_SM_BACKOFF, "bytes", inner, False)])


def decode_server_message(buf: bytes) -> tuple[str, dict]:
    msg = wire.decode_message(
        buf,
        {
            _SM_WRITE_BATCH_RESULT: ("bytes", False),
            _SM_BACKOFF: ("bytes", False),
            _SM_IDENTIFY_TYPE: ("bytes", False),
        },
    )
    if _SM_WRITE_BATCH_RESULT in msg:
        inner = wire.decode_message(
            msg[_SM_WRITE_BATCH_RESULT], {1: ("uint32", False), 2: ("enum", False)}
        )
        return "write_batch_result", {
            "id": inner.get(1, 0),
            "result": inner.get(2, OK),
        }
    if _SM_BACKOFF in msg:
        inner = wire.decode_message(
            msg[_SM_BACKOFF], {1: ("uint64", False), 2: ("string", True)}
        )
        return "backoff", {"until": inner.get(1, 0), "types": inner.get(2, [])}
    inner = wire.decode_message(
        msg[_SM_IDENTIFY_TYPE], {1: ("string", False), 2: ("uint32", False)}
    )
    return "identify_message_type", {"type": inner.get(1, ""), "id": inner.get(2, 0)}


def encode_write_batch_request(
    key: str, payloads: list[tuple[str, list[bytes]]]
) -> bytes:
    """Unary WriteBatchRequest (bristle.proto:22-25): ``key`` + repeated
    Payload{type, repeated body} (bristle.proto:15-18)."""
    fields: list[tuple[int, str, object, bool]] = [(1, "string", key or None, False)]
    for type_name, bodies in payloads:
        inner = wire.encode_message(
            [(1, "string", type_name, False), (2, "bytes", bodies, True)]
        )
        fields.append((2, "bytes", inner, False))
    return wire.encode_message(fields)


def decode_write_batch_request(buf: bytes) -> tuple[str, list[tuple[str, list[bytes]]]]:
    msg = wire.decode_message(buf, {1: ("string", False), 2: ("bytes", True)})
    payloads: list[tuple[str, list[bytes]]] = []
    for raw in msg.get(2, []):
        inner = wire.decode_message(raw, {1: ("string", False), 2: ("bytes", True)})
        payloads.append((inner.get(1, ""), inner.get(2, [])))
    return msg.get(1, ""), payloads


def encode_write_batch_response(acknowledged: int, dropped: int) -> bytes:
    """WriteBatchResponse (bristle.proto:27-33). The reference hardcodes
    zeros (ingest_service.go:116-119); this implements the *intended*
    semantics the proto comments document — the count of acknowledged /
    dropped payloads (SURVEY §8.3)."""
    return wire.encode_message(
        [
            (1, "uint64", acknowledged or None, False),
            (2, "uint64", dropped or None, False),
        ]
    )


def decode_write_batch_response(buf: bytes) -> tuple[int, int]:
    msg = wire.decode_message(buf, {1: ("uint64", False), 2: ("uint64", False)})
    return msg.get(1, 0), msg.get(2, 0)


def _decode_client_message(buf: bytes) -> tuple[str, dict]:
    msg = wire.decode_message(
        buf,
        {
            _CM_WRITE_BATCH: ("bytes", False),
            _CM_UPDATE_DEFAULT: ("bytes", False),
            _CM_REGISTER_TYPE: ("bytes", False),
        },
    )
    if _CM_WRITE_BATCH in msg:
        inner = wire.decode_message(
            msg[_CM_WRITE_BATCH],
            {
                1: ("uint32", False),
                2: ("string", False),
                3: ("uint32", False),
                4: ("uint32", False),
                5: ("bytes", False),
            },
        )
        return "write_batch", {
            "id": inner.get(1, 0),
            "type_name": inner.get(2),
            "type_id": inner.get(3),
            "length": inner.get(4, 0),
            "data": inner.get(5, b""),
        }
    if _CM_REGISTER_TYPE in msg:
        inner = wire.decode_message(
            msg[_CM_REGISTER_TYPE], {1: ("string", False), 2: ("bytes", False)}
        )
        return "register_message_type", {
            "type": inner.get(1, ""),
            "descriptor": inner.get(2, b""),
        }
    if msg.get(_CM_UPDATE_DEFAULT) is not None:
        return "update_default", {}
    raise ValueError("empty StreamingClientMessage")


# ---------------------------------------------------- the batch path


def process_batch(
    server, type_ids: dict[int, str], batch: dict, max_batch_len: int
) -> int:
    """Validate one write_batch against the server's binding registry
    and durably land it; returns the BatchResult. Transport-agnostic —
    shared by the gRPC ``Streaming`` and unary ``WriteBatch`` RPCs
    (grpc_transport.py), so both speak byte-identical ack semantics."""
    if batch["type_id"] is not None and batch["type_name"] is None:
        type_name = type_ids.get(batch["type_id"])
        if type_name is None:
            return UNK_MESSAGE
    else:
        type_name = batch["type_name"]
    registry = server.registry
    try:
        binding = registry.for_type(type_name)
    except KeyError:
        return UNK_MESSAGE

    try:
        bodies = wire.split_frames(batch["data"])
    except (ValueError, IndexError):
        return DECODE_ERR
    if len(bodies) > max_batch_len:
        return TOO_BIG

    # frame-by-frame decode validation BEFORE the durable ack — the
    # reference's proto.Unmarshal loop (ingest_service.go:155-177);
    # the distributed pipeline re-decodes at scale on the drain path
    specs = binding.field_specs_by_number()
    for body in bodies:
        try:
            wire.decode_message(body, specs)
        except Exception:
            return DECODE_ERR

    land_payload(server, binding, type_name, bodies)
    return OK


def land_payload(server, binding, type_name: str, bodies: list[bytes]) -> None:
    """Durably land the validated batch as one payload parquet file
    in the table's landing zone (the ack-backing write)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    safe = binding.sink_table.replace(".", "__")
    payload_dir = os.path.join(server.data_root, "payloads", safe)
    os.makedirs(payload_dir, exist_ok=True)
    table = pa.table(
        {
            "type": pa.array([type_name] * len(bodies), pa.string()),
            "body": pa.array(bodies, pa.binary()),
        }
    )
    name = f"batch_{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(payload_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(payload_dir, name))
    # counted AFTER the atomic rename: these are documented as DURABLY
    # landed — incrementing before a failed write would over-count
    from bristle_spark.ingest import metrics

    metrics.ROWS.inc(binding.sink_table, by=len(bodies))
    metrics.PAYLOAD_BYTES.inc(binding.sink_table, by=sum(len(b) for b in bodies))


# ------------------------------------------------------ client backoff


class ClientBackoff:
    """Client-side honoring of server ``Backoff`` advisories. The
    reference client stores the high-water ``until`` off the receive
    loop (client/client.go:128-136) and checks it before every send —
    but its sleep duration is ``now - until``, a negative value that
    busy-loops (client/client.go:158-164; SURVEY §8.7 quirk). This
    implements the *intended* behavior: a non-negative wait of
    ``until - now``, scoped to the advisory's listed types (empty list =
    all types, per bristle.proto:96-99)."""

    def __init__(self) -> None:
        self.until_ms = 0
        self.types: frozenset[str] = frozenset()

    def note(self, body: dict) -> None:
        if body["until"] > self.until_ms:  # high-water, like the reference
            self.until_ms = body["until"]
            self.types = frozenset(body["types"])

    def delay_s(self, type_name: str | None, now_ms: int | None = None) -> float:
        """Seconds a send of ``type_name`` must defer; 0.0 if clear."""
        if now_ms is None:
            import time

            now_ms = int(time.time() * 1000)
        if now_ms >= self.until_ms:
            return 0.0
        if self.types and type_name not in self.types:
            return 0.0
        return (self.until_ms - now_ms) / 1000.0

    def wait(self, type_name: str | None) -> float:
        """Block until the advisory clears; returns seconds slept."""
        import time

        delay = self.delay_s(type_name)
        if delay > 0.0:
            time.sleep(delay)
        return delay
