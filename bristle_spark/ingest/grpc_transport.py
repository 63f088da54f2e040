"""BristleIngestService over real HTTP/2-gRPC framing: the network
ingest front door.

The reference mounts its service on a stock gRPC server
(ingest_service.go:63-65, bristle.proto:117-123); grpcio is
env-blocked here (PARITY.md), so this transport implements the gRPC
wire protocol itself on the repo's own RFC-7540/7541 stack (h2.py,
hpack.py): HTTP/2 preface + SETTINGS, HPACK-compressed request and
response headers, the 5-byte (compressed-flag + u32 length) gRPC
message framing inside DATA frames, and grpc-status trailers. The
``Streaming`` bidi RPC carries the ``StreamingClientMessage`` /
``StreamingServerMessage`` envelopes (codec in service.py) and drives
the transport-agnostic batch semantics (service.process_batch):
register-type handshake, per-batch BatchResult acks, max_in_flight
admission, ErrUnsupported terminations; the unary ``WriteBatch`` RPC
lands through the same function. A stock gRPC client implementing
bristle.proto can connect to this endpoint without speaking anything
repo-specific.

gRPC protocol details follow the public gRPC-over-HTTP/2 spec
(PROTOCOL-HTTP2.md in grpc/grpc): path = /<package>.<Service>/<Method>,
content-type application/grpc, trailers-only responses for unknown
methods (UNIMPLEMENTED), INTERNAL for an unsupported compressed-flag.
Every h2 socket runs with TCP_NODELAY, like stock gRPC.

100 TB shape: the transport is a thin, stateless ingress — it validates
and durably lands payload files; the distributed streaming job drains
them. N transports behind a load balancer scale ingest horizontally;
nothing here touches Spark.
"""

from __future__ import annotations

import socket
import ssl
import threading
from concurrent.futures import ThreadPoolExecutor

from bristle_spark.ingest import h2, metrics
from bristle_spark.ingest import service as svc

STREAMING_PATH = b"/bristle.BristleIngestService/Streaming"
WRITE_BATCH_PATH = b"/bristle.BristleIngestService/WriteBatch"
GRPC_CONTENT_TYPE = b"application/grpc"

# gRPC status codes (status.proto — public gRPC API)
GRPC_OK = 0
GRPC_UNKNOWN = 2
GRPC_RESOURCE_EXHAUSTED = 8
GRPC_UNIMPLEMENTED = 12
GRPC_INTERNAL = 13

# stock gRPC's default max receive message size; a peer declaring a
# larger length-prefix must not buffer unbounded bytes server-side
MAX_RECV_MESSAGE = 4 * 1024 * 1024


class MessageTooLarge(ValueError):
    def __init__(self, declared: int) -> None:
        super().__init__(
            f"received message larger than max ({declared} vs. {MAX_RECV_MESSAGE})"
        )
        self.declared = declared


def make_server_tls_context(certfile: str, keyfile: str) -> ssl.SSLContext:
    """Stdlib TLS context for the gRPC front door: TLS >= 1.2 with ALPN
    offering exactly ``h2`` — what a production bristle client's stock
    gRPC channel negotiates (gRPC-over-HTTP/2 requires ALPN h2 on TLS;
    RFC 7540 §3.3)."""
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.minimum_version = ssl.TLSVersion.TLSv1_2
    ctx.load_cert_chain(certfile, keyfile)
    ctx.set_alpn_protocols(["h2"])
    return ctx


def make_client_tls_context(cafile: str | None = None) -> ssl.SSLContext:
    """Client twin of make_server_tls_context. With ``cafile`` the
    server certificate is verified against it (the production shape);
    without, verification is disabled (loopback tests with a throwaway
    self-signed cert)."""
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
    ctx.minimum_version = ssl.TLSVersion.TLSv1_2
    if cafile is not None:
        ctx.load_verify_locations(cafile)
    else:
        ctx.check_hostname = False
        ctx.verify_mode = ssl.CERT_NONE
    ctx.set_alpn_protocols(["h2"])
    return ctx


def _set_nodelay(conn: socket.socket) -> None:
    """Disable Nagle on an h2 socket, as stock gRPC does. Each side
    writes a control frame and its payload in separate sends; with
    Nagle on, the second send waits for the peer's delayed ACK, which
    stalled each acked 1,000-row batch ~87 ms on a 4-core loopback host
    while both processes sat idle."""
    conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)


def _tls_connect(
    host: str,
    port: int,
    timeout: float,
    tls_context: ssl.SSLContext | None,
    server_hostname: str | None,
) -> socket.socket:
    """Create the client connection, TLS-wrapped with ALPN ``h2``
    enforced when a context is given."""
    conn = socket.create_connection((host, port), timeout=timeout)
    _set_nodelay(conn)
    if tls_context is None:
        return conn
    try:
        tls = tls_context.wrap_socket(
            conn, server_hostname=server_hostname or host
        )
    except (ssl.SSLError, OSError) as exc:
        # OSError covers mid-handshake timeouts/resets, which are not
        # SSLError subclasses — without this the socket fd leaked and
        # the caller saw a raw OSError instead of the ConnectionError
        # contract (ConnectionError itself subclasses OSError, so the
        # ALPN check below stays OUTSIDE this try)
        conn.close()
        raise ConnectionError(f"TLS handshake failed: {exc}") from exc
    alpn = tls.selected_alpn_protocol()
    if alpn != "h2":
        tls.close()
        raise ConnectionError(f"server did not negotiate ALPN h2 (got {alpn!r})")
    return tls


def frame_message(msg: bytes) -> bytes:
    """gRPC length-prefixed message: compressed-flag (0) + u32 length."""
    return b"\x00" + len(msg).to_bytes(4, "big") + msg


def split_messages(buf: bytearray) -> list[bytes]:
    """Pop every complete gRPC message off ``buf`` (mutates it).
    Raises ValueError on a set compressed-flag — no encoding is
    negotiated (no grpc-encoding header is ever sent)."""
    out: list[bytes] = []
    while len(buf) >= 5:
        if buf[0] != 0:
            raise ValueError("compressed gRPC message without grpc-encoding")
        length = int.from_bytes(buf[1:5], "big")
        if length > MAX_RECV_MESSAGE:
            # reject on the PREFIX, before any bytes accumulate — the
            # stock-gRPC RESOURCE_EXHAUSTED behavior, and the reason a
            # 4 GiB declared length cannot buffer the server out of
            # memory
            raise MessageTooLarge(length)
        if len(buf) < 5 + length:
            break
        out.append(bytes(buf[5 : 5 + length]))
        del buf[: 5 + length]
    return out


class _Rpc:
    """Per-stream RPC state (StreamingClientSession analog,
    ingest_service.go:236-251). ``unary=True`` marks a WriteBatch RPC:
    request messages buffer until END_STREAM, then one response message
    + trailers go out together."""

    def __init__(self, stream_id: int, max_in_flight: int, unary: bool = False) -> None:
        self.stream_id = stream_id
        self.sem = threading.Semaphore(max_in_flight)
        self.type_ids: dict[int, str] = {}
        self.next_type_id = 0
        self.buf = bytearray()
        self.in_flight = 0
        self.recv_done = False
        self.finished = False  # trailers sent
        self.unary = unary
        self.unary_msgs: list[bytes] = []
        self.claimed = False  # a pool thread owns the unary response
        self.headers_sent = not unary  # streaming sends headers eagerly


class GrpcIngestService:
    """HTTP/2-gRPC front door bound to an IngestServer's binding
    registry and payload landing zones."""

    def __init__(
        self,
        server,  # ingest.server.IngestServer
        host: str = "127.0.0.1",
        port: int = 0,
        max_in_flight: int = 12,  # reference NewStreamingClientSession(stream, 12)
        max_batch_len: int = 10_000,
        backoff_ms: int = 0,
        tls_context: ssl.SSLContext | None = None,
    ) -> None:
        self.server = server
        self.host = host
        self.max_in_flight = max_in_flight
        self.max_batch_len = max_batch_len
        # when > 0: an admission rejection also sends a Backoff advisory
        # (bristle.proto:96-99 — declared-only in the reference server;
        # the reference *client* honors it, client/client.go:128-136)
        self.backoff_ms = backoff_ms
        # when set: every accepted connection handshakes TLS with ALPN
        # h2 before any HTTP/2 bytes (make_server_tls_context); None =
        # cleartext h2c with prior knowledge, the loopback default
        self.tls_context = tls_context
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind((host, port))
        self.port = self._sock.getsockname()[1]
        self._stop = threading.Event()
        self._accept_thread: threading.Thread | None = None
        self._pool = ThreadPoolExecutor(max_workers=max(1, max_in_flight))

    # -- lifecycle

    def start(self) -> "GrpcIngestService":
        self._sock.listen()
        self._accept_thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._accept_thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        try:
            self._sock.close()
        except OSError:
            pass
        self._pool.shutdown(wait=True)

    def __enter__(self) -> "GrpcIngestService":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    def _accept_loop(self) -> None:
        import time as _time

        while not self._stop.is_set():
            try:
                conn, _addr = self._sock.accept()
            except OSError:
                if self._stop.is_set():
                    return
                _time.sleep(0.05)
                continue
            threading.Thread(
                target=self._serve_connection, args=(conn,), daemon=True
            ).start()

    # -- connection handling

    def _serve_connection(self, conn: socket.socket) -> None:
        try:
            _set_nodelay(conn)
        except OSError:
            conn.close()
            return  # peer already gone
        if self.tls_context is not None:
            # handshake in the per-connection thread so a slow or
            # misbehaving peer never blocks the accept loop
            try:
                conn = self.tls_context.wrap_socket(conn, server_side=True)
            except (ssl.SSLError, OSError):
                try:
                    conn.close()
                except OSError:
                    pass
                return
            if conn.selected_alpn_protocol() != "h2":
                # RFC 7540 §3.3: h2 over TLS REQUIRES the ALPN token;
                # a client that negotiated nothing gets no HTTP/2 bytes
                try:
                    conn.close()
                except OSError:
                    pass
                return
        h2c = h2.H2Connection(client_side=False)
        lock = threading.Lock()
        rpcs: dict[int, _Rpc] = {}

        def flush_locked() -> None:
            out = h2c.data_to_send()
            if out:
                conn.sendall(out)

        try:
            with conn:
                while True:
                    chunk = conn.recv(65536)
                    if not chunk:
                        return
                    with lock:
                        try:
                            events = h2c.receive_data(chunk)
                        except h2.H2ConnectionError as exc:
                            h2c.send_goaway(exc.code)
                            flush_locked()
                            return
                        flush_locked()
                    for ev in events:
                        self._handle_event(ev, h2c, lock, conn, rpcs, flush_locked)
                        if h2c.closed:
                            return
        except (ConnectionError, OSError, ValueError):
            return  # client gone / malformed: drop the connection
        except RuntimeError:
            # pool.submit after stop() shut the executor — a teardown
            # race when a connection is mid-event; anything else is a
            # real bug and must surface
            if self._stop.is_set():
                return
            raise

    # -- event handling (reader thread)

    def _handle_event(self, ev, h2c, lock, conn, rpcs, flush_locked) -> None:
        if isinstance(ev, h2.HeadersReceived):
            # sweep completed RPCs so a long-lived connection issuing
            # many RPCs doesn't grow per-connection state without bound
            # (the h2 layer already retires its streams; this map must
            # not re-introduce the leak). Amortized: each finished RPC
            # is swept exactly once.
            for done in [s for s, r in rpcs.items() if r.finished]:
                del rpcs[done]
            headers = dict(ev.headers)
            sid = ev.stream_id
            prio = headers.get(b"priority")
            if prio is not None:
                # RFC 9218 §5: the request's `priority` header schedules
                # the RESPONSE stream when the connection window is the
                # constraint (h2.H2Connection._scheduled_flush)
                with lock:
                    h2c.set_priority(sid, *h2.parse_priority_field(prio))
            live = rpcs.get(sid)
            if live is not None and not live.finished:
                # HEADERS replay on an active RPC (client trailers have
                # no place in the gRPC request grammar): resetting keeps
                # the live RPC's type-id registry / buffered messages /
                # in-flight accounting from being silently discarded and
                # response headers from being re-sent on the same stream
                live.finished = True
                del rpcs[sid]
                with lock:
                    h2c.reset_stream(sid, h2.PROTOCOL_ERROR)
                    flush_locked()
                return
            if headers.get(b":path") == WRITE_BATCH_PATH:
                # unary WriteBatch (bristle.proto:119, ingest_service.go:109-120):
                # response headers are deferred until the response is ready
                metrics.RPC_STARTED.inc("WriteBatch")
                rpc = _Rpc(sid, self.max_in_flight, unary=True)
                rpcs[sid] = rpc
                if ev.end_stream:
                    self._finish_unary(rpc, h2c, lock, flush_locked)
                return
            if headers.get(b":path") != STREAMING_PATH:
                metrics.RPC_STARTED.inc("unknown")
                metrics.RPC_HANDLED.inc("unknown", str(GRPC_UNIMPLEMENTED))
                with lock:
                    # trailers-only response (gRPC spec: UNIMPLEMENTED)
                    h2c.send_headers(
                        sid,
                        [
                            (b":status", b"200"),
                            (b"content-type", GRPC_CONTENT_TYPE),
                            (b"grpc-status", str(GRPC_UNIMPLEMENTED).encode()),
                            (b"grpc-message", b"unknown method"),
                        ],
                        end_stream=True,
                    )
                    flush_locked()
                return
            metrics.RPC_STARTED.inc("Streaming")
            rpc = _Rpc(sid, self.max_in_flight)
            rpcs[sid] = rpc
            with lock:
                h2c.send_headers(
                    sid,
                    [(b":status", b"200"), (b"content-type", GRPC_CONTENT_TYPE)],
                )
                flush_locked()
            if ev.end_stream:
                rpc.recv_done = True
                self._maybe_finish(rpc, h2c, lock, flush_locked)
        elif isinstance(ev, h2.DataReceived):
            rpc = rpcs.get(ev.stream_id)
            if rpc is None or rpc.finished:
                return
            rpc.buf += ev.data
            try:
                msgs = split_messages(rpc.buf)
            except MessageTooLarge as exc:
                self._finish(
                    rpc, h2c, lock, flush_locked,
                    GRPC_RESOURCE_EXHAUSTED, str(exc).encode(),
                )
                return
            except ValueError:
                self._finish(
                    rpc, h2c, lock, flush_locked,
                    GRPC_INTERNAL, b"unsupported compressed message",
                )
                return
            if rpc.unary:
                rpc.unary_msgs += msgs
                if ev.end_stream:
                    self._finish_unary(rpc, h2c, lock, flush_locked)
                return
            for msg in msgs:
                if rpc.finished:
                    return
                self._handle_envelope(rpc, msg, h2c, lock, flush_locked)
            if ev.end_stream:
                rpc.recv_done = True
                self._maybe_finish(rpc, h2c, lock, flush_locked)
        elif isinstance(ev, h2.StreamReset):
            rpc = rpcs.pop(ev.stream_id, None)
            if rpc is not None:
                rpc.finished = True

    # -- the Streaming session semantics (ingest_service.go:184-234)

    def _handle_envelope(self, rpc, msg, h2c, lock, flush_locked) -> None:
        try:
            kind, body = svc._decode_client_message(msg)
        except (ValueError, IndexError):
            self._finish(
                rpc, h2c, lock, flush_locked, GRPC_INTERNAL, b"malformed envelope"
            )
            return
        if kind == "register_message_type":
            if body["descriptor"]:
                # ErrUnsupported terminates the RPC (ingest_service.go:199-202)
                self._finish(
                    rpc, h2c, lock, flush_locked,
                    GRPC_UNKNOWN, b"descriptor registration unsupported",
                )
                return
            rpc.next_type_id += 1
            rpc.type_ids[rpc.next_type_id] = body["type"]
            self._send_msg(
                rpc, svc._encode_identify(body["type"], rpc.next_type_id),
                h2c, lock, flush_locked,
            )
        elif kind == "write_batch":
            if not rpc.sem.acquire(blocking=False):
                metrics.BATCHES.inc(
                    "grpc-streaming",
                    svc.RESULT_NAMES[svc.TOO_MANY_IN_FLIGHT_BATCHES],
                )
                # advisory FIRST so a synchronous client has noted it by
                # the time the rejection ack unblocks its send loop
                if self.backoff_ms > 0:
                    import time as _t

                    name = body["type_name"] or rpc.type_ids.get(body["type_id"])
                    self._send_msg(
                        rpc,
                        svc.encode_backoff(
                            int(_t.time() * 1000) + self.backoff_ms,
                            [name] if name else [],
                        ),
                        h2c, lock, flush_locked,
                    )
                self._send_msg(
                    rpc,
                    svc._encode_batch_result(
                        body["id"], svc.TOO_MANY_IN_FLIGHT_BATCHES
                    ),
                    h2c, lock, flush_locked,
                )
                return
            # under `lock`: pool threads decrement under the same lock,
            # and a lost read-modify-write here either strands the
            # client (trailers never sent) or truncates the RPC early
            with lock:
                rpc.in_flight += 1
            self._pool.submit(
                self._write_batch, rpc, body, h2c, lock, flush_locked
            )
        elif kind == "update_default":
            # ErrUnsupported (ingest_service.go:228-230, S13)
            self._finish(
                rpc, h2c, lock, flush_locked,
                GRPC_UNKNOWN, b"update_default unsupported",
            )

    # -- the unary WriteBatch semantics (ingest_service.go:109-120)

    def _finish_unary(self, rpc, h2c, lock, flush_locked) -> None:
        """Request fully received: process off the reader thread, then
        send response headers + message + trailers together."""
        self._pool.submit(self._unary_write_batch, rpc, h2c, lock, flush_locked)

    def _unary_write_batch(self, rpc, h2c, lock, flush_locked) -> None:
        with lock:
            # claim BEFORE decoding/landing: even if the h2 layer ever
            # re-delivered an END_STREAM (it can't since the half-closed
            # check landed), a duplicate submission must not run
            # process_batch a second time
            if rpc.finished or rpc.claimed:
                return
            rpc.claimed = True
        if rpc.buf:
            # a truncated/garbage tail after the last complete message
            # must not be silently accepted as a successful request
            self._finish(
                rpc, h2c, lock, flush_locked,
                GRPC_INTERNAL, b"truncated gRPC message in request body",
            )
            return
        if len(rpc.unary_msgs) != 1:
            self._finish(
                rpc, h2c, lock, flush_locked,
                GRPC_INTERNAL,
                b"expected exactly one WriteBatchRequest message",
            )
            return
        try:
            _key, payloads = svc.decode_write_batch_request(rpc.unary_msgs[0])
        except (ValueError, IndexError):
            self._finish(
                rpc, h2c, lock, flush_locked, GRPC_INTERNAL, b"malformed request"
            )
            return
        acknowledged = 0
        for type_name, bodies in payloads:
            # same validate-and-land path as the streaming RPC, so the
            # ack taxonomy is shared (writePayload, ingest_service.go:79-107)
            batch = {
                "id": 0,
                "type_name": type_name,
                "type_id": None,
                "length": len(bodies),
                "data": svc.wire.join_frames(bodies),
            }
            try:
                result = svc.process_batch(
                    self.server, rpc.type_ids, batch, self.max_batch_len
                )
            except Exception:
                result = svc.FULL
            metrics.BATCHES.inc("grpc-unary", svc.RESULT_NAMES[result])
            if result != svc.OK:
                # first non-OK payload aborts the request
                # (ingest_service.go:112-114); earlier payloads stay
                # landed, exactly like the reference's partial write
                self._finish(
                    rpc, h2c, lock, flush_locked,
                    GRPC_UNKNOWN,
                    f"WriteBatch error code {svc.RESULT_NAMES[result]}".encode(),
                )
                return
            acknowledged += 1
        response = svc.encode_write_batch_response(acknowledged, 0)
        with lock:
            if rpc.finished:
                return  # reset mid-flight: no response went out, not handled
            rpc.finished = True
            metrics.RPC_HANDLED.inc("WriteBatch", str(GRPC_OK))
            h2c.send_headers(
                rpc.stream_id,
                [(b":status", b"200"), (b"content-type", GRPC_CONTENT_TYPE)],
            )
            h2c.send_data(rpc.stream_id, frame_message(response))
            h2c.send_headers(
                rpc.stream_id, [(b"grpc-status", b"0")], end_stream=True
            )
            try:
                flush_locked()
            except OSError:
                pass

    def _write_batch(self, rpc, batch, h2c, lock, flush_locked) -> None:
        try:
            result = svc.process_batch(
                self.server, rpc.type_ids, batch, self.max_batch_len
            )
        except Exception:
            result = svc.FULL  # server-side failure: retryable, not DECODE_ERR
        finally:
            rpc.sem.release()
        metrics.BATCHES.inc("grpc-streaming", svc.RESULT_NAMES[result])
        try:
            self._send_msg(
                rpc, svc._encode_batch_result(batch["id"], result),
                h2c, lock, flush_locked,
            )
        except OSError:
            pass  # client hung up before the ack
        with lock:
            rpc.in_flight -= 1
        self._maybe_finish(rpc, h2c, lock, flush_locked)

    # -- response plumbing

    def _send_msg(self, rpc, envelope, h2c, lock, flush_locked) -> None:
        with lock:
            if rpc.finished:
                return
            h2c.send_data(rpc.stream_id, frame_message(envelope))
            flush_locked()

    def _maybe_finish(self, rpc, h2c, lock, flush_locked) -> None:
        with lock:
            if rpc.finished or not rpc.recv_done or rpc.in_flight > 0:
                return
        self._finish(rpc, h2c, lock, flush_locked, GRPC_OK, b"")

    def _finish(self, rpc, h2c, lock, flush_locked, status, message) -> None:
        with lock:
            if rpc.finished:
                return
            rpc.finished = True
            metrics.RPC_HANDLED.inc(
                "WriteBatch" if rpc.unary else "Streaming", str(status)
            )
            trailers = []
            if not rpc.headers_sent:
                # trailers-only response (gRPC spec): the one HEADERS
                # frame carries :status + content-type + grpc-status
                trailers += [
                    (b":status", b"200"),
                    (b"content-type", GRPC_CONTENT_TYPE),
                ]
                rpc.headers_sent = True
            trailers.append((b"grpc-status", str(status).encode()))
            if message:
                trailers.append((b"grpc-message", bytes(message)))
            h2c.send_headers(rpc.stream_id, trailers, end_stream=True)
            try:
                flush_locked()
            except OSError:
                pass


class GrpcIngestClient:
    """Synchronous gRPC Streaming client over the same stack — the
    loopback stand-in for a stock bristle client (client/client.go):
    register types for short ids, send write batches, collect acks, and
    defer sends on server Backoff advisories. Results may arrive out of
    order; responses are correlated by batch id. ``huffman=True``
    exercises the server's Huffman decode path with realistically-
    compressed headers."""

    def __init__(
        self,
        host: str,
        port: int,
        timeout: float = 30.0,
        huffman: bool = True,
        tls_context: ssl.SSLContext | None = None,
        server_hostname: str | None = None,
    ) -> None:
        self.conn = _tls_connect(host, port, timeout, tls_context, server_hostname)
        self._h2 = h2.H2Connection(client_side=True)
        self._h2._encoder.huffman = huffman
        self._h2.initiate()
        self._next_batch = 0
        self._results: dict[int, int] = {}
        self._envelopes: list[tuple[str, dict]] = []
        self._type_names: dict[int, str] = {}
        self.backoff = svc.ClientBackoff()
        self._buf = bytearray()
        self.trailers: dict[bytes, bytes] | None = None
        self._headers_seen = False
        self.stream_id = self._h2.next_stream_id()
        self._h2.send_headers(
            self.stream_id,
            [
                (b":method", b"POST"),
                (b":scheme", b"http"),
                (b":path", STREAMING_PATH),
                (b":authority", f"{host}:{port}".encode()),
                (b"content-type", GRPC_CONTENT_TYPE),
                (b"te", b"trailers"),
            ],
        )
        self._flush()

    # -- lifecycle

    def close(self) -> None:
        try:
            self._h2.send_data(self.stream_id, b"", end_stream=True)
            self._h2.send_goaway(h2.NO_ERROR)
            self._flush()
        except OSError:
            pass
        finally:
            self.conn.close()

    def __enter__(self) -> "GrpcIngestClient":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -- plumbing

    def _flush(self) -> None:
        out = self._h2.data_to_send()
        if out:
            self.conn.sendall(out)

    def _send_envelope(self, envelope: bytes) -> None:
        self._h2.send_data(self.stream_id, frame_message(envelope))
        self._flush()

    def _pump(self) -> None:
        chunk = self.conn.recv(65536)
        if not chunk:
            raise ConnectionError("server closed the connection")
        events = self._h2.receive_data(chunk)
        self._flush()  # auto-replies: SETTINGS ack, WINDOW_UPDATE
        for ev in events:
            if isinstance(ev, h2.DataReceived) and ev.stream_id == self.stream_id:
                self._buf += ev.data
                for msg in split_messages(self._buf):
                    self._envelopes.append(svc.decode_server_message(msg))
            elif isinstance(ev, h2.HeadersReceived) and ev.stream_id == self.stream_id:
                hdrs = dict(ev.headers)
                if not self._headers_seen and b":status" in hdrs:
                    self._headers_seen = True
                    if b"grpc-status" not in hdrs:
                        continue  # plain response headers
                self.trailers = hdrs
                status = int(hdrs.get(b"grpc-status", b"0"))
                if status != GRPC_OK:
                    raise ConnectionError(
                        f"rpc terminated: grpc-status {status} "
                        f"{hdrs.get(b'grpc-message', b'').decode()}"
                    )
                if ev.end_stream:
                    raise ConnectionError("server closed the session")
            elif isinstance(ev, h2.StreamReset) and ev.stream_id == self.stream_id:
                raise ConnectionError(
                    f"rpc stream reset by server (code {ev.error_code})"
                )
            elif isinstance(ev, h2.ConnectionTerminated):
                raise ConnectionError("server sent GOAWAY")

    def _recv(self) -> tuple[str, dict]:
        while not self._envelopes:
            self._pump()
        return self._envelopes.pop(0)

    # -- the client API

    def register_type(self, type_name: str) -> int:
        self._send_envelope(svc.encode_register_type(type_name))
        while True:
            kind, body = self._recv()
            if kind == "identify_message_type" and body["type"] == type_name:
                self._type_names[body["id"]] = body["type"]
                return body["id"]
            if kind == "write_batch_result":
                self._results[body["id"]] = body["result"]
            elif kind == "backoff":
                self.backoff.note(body)

    def write_batch(
        self,
        bodies: list[bytes],
        type_name: str | None = None,
        type_id: int | None = None,
    ) -> int:
        """Send one batch and block for its ack; returns the BatchResult.
        Defers the send while a server Backoff advisory covering this
        type is in force (client/client.go:158-164 intended behavior)."""
        self.backoff.wait(type_name or self._type_names.get(type_id))
        self._next_batch += 1
        batch_id = self._next_batch
        self._send_envelope(
            svc.encode_write_batch(batch_id, bodies, type_name, type_id)
        )
        while batch_id not in self._results:
            kind, body = self._recv()
            if kind == "write_batch_result":
                self._results[body["id"]] = body["result"]
            elif kind == "backoff":
                self.backoff.note(body)
        return self._results.pop(batch_id)

    def update_default(self, type_name: str, default: bytes = b"") -> None:
        self._send_envelope(svc.encode_update_default(type_name, default))


def grpc_write_batch_unary(
    host: str,
    port: int,
    payloads: list[tuple[str, list[bytes]]],
    key: str = "",
    timeout: float = 30.0,
    tls_context: ssl.SSLContext | None = None,
    server_hostname: str | None = None,
) -> tuple[int, int]:
    """One unary ``WriteBatch`` call (bristle.proto:119) over a fresh
    HTTP/2 connection — the stand-in for a stock unary gRPC client, the
    simpler of the reference's two client APIs (ingest_service.go:109).
    Returns (acknowledged, dropped); raises ConnectionError with the
    server's grpc-message on a non-OK grpc-status, mirroring how a stock
    client surfaces the reference's aborted-request error
    (ingest_service.go:112-114)."""
    conn = _tls_connect(host, port, timeout, tls_context, server_hostname)
    try:
        h2c = h2.H2Connection(client_side=True)
        h2c.initiate()
        sid = h2c.next_stream_id()
        h2c.send_headers(
            sid,
            [
                (b":method", b"POST"),
                (b":scheme", b"http"),
                (b":path", WRITE_BATCH_PATH),
                (b":authority", f"{host}:{port}".encode()),
                (b"content-type", GRPC_CONTENT_TYPE),
                (b"te", b"trailers"),
            ],
        )
        h2c.send_data(
            sid,
            frame_message(svc.encode_write_batch_request(key, payloads)),
            end_stream=True,
        )
        conn.sendall(h2c.data_to_send())
        buf = bytearray()
        status: int | None = None
        message = b""
        while status is None:
            chunk = conn.recv(65536)
            if not chunk:
                raise ConnectionError("server closed the connection")
            for ev in h2c.receive_data(chunk):
                if isinstance(ev, h2.DataReceived) and ev.stream_id == sid:
                    buf += ev.data
                elif isinstance(ev, h2.HeadersReceived) and ev.stream_id == sid:
                    hdrs = dict(ev.headers)
                    if b"grpc-status" in hdrs:
                        status = int(hdrs[b"grpc-status"])
                        message = hdrs.get(b"grpc-message", b"")
                elif isinstance(ev, h2.StreamReset) and ev.stream_id == sid:
                    # e.g. REFUSED_STREAM past the concurrency cap:
                    # fail promptly, not via socket timeout
                    raise ConnectionError(
                        f"rpc stream reset by server (code {ev.error_code})"
                    )
                elif isinstance(ev, h2.ConnectionTerminated):
                    raise ConnectionError("server sent GOAWAY")
            out = h2c.data_to_send()  # auto-replies (SETTINGS ack, windows)
            if out:
                conn.sendall(out)
        if status != GRPC_OK:
            raise ConnectionError(
                f"rpc terminated: grpc-status {status} {message.decode()}"
            )
        msgs = split_messages(buf)
        if len(msgs) != 1:
            raise ConnectionError("expected exactly one WriteBatchResponse")
        return svc.decode_write_batch_response(msgs[0])
    finally:
        conn.close()
