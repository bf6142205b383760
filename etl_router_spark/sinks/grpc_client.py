"""Minimal gRPC-over-HTTP/2 client (and hermetic receiver) for the
typed gRPC sink — the reference's only first-class sink config
(``conveyor-etl-dsl/src/types.rs:703-759``: endpoint + retry policy).

Everything here is public protocol: RFC 7540 HTTP/2 framing, RFC 7541
HPACK (full decoder in ``sinks/hpack.py`` — static + dynamic table,
all four representation forms, Huffman strings — so responses from
real servers that index ``:status: 200`` or Huffman-code values decode
correctly; our own encoder emits the stateless literal-without-indexing
form, which is always legal), the gRPC length-prefixed message framing,
and protobuf wire format (the request message is ``bytes payload = 1``,
the JSON-lines batch).

Scale design: the sink runs ``df.foreachPartition`` — each executor
partition opens ONE connection and streams its batches as unary calls
(odd client stream ids per RFC 7540 §5.1.1), so sink parallelism ==
partition count and no rows ever route through the driver. Failures
retry per call with the reference's exponential backoff contract
(``initial * multiplier^n`` capped, ``policy.rs:33-47`` semantics).
"""

from __future__ import annotations

import socket
import struct
import time

from etl_router_spark.netio import recv_exact
from etl_router_spark.sinks.hpack import HpackDecoder, encode_literal

H2_PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"


class GrpcCallError(RuntimeError):
    def __init__(self, status: int, message: str = ""):
        super().__init__(f"grpc-status {status}: {message}")
        self.status = status


def h2_frame(ftype: int, flags: int, stream: int, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload))[1:]
            + struct.pack(">BBI", ftype, flags, stream) + payload)


hpack_literal = encode_literal


def headers_fragment(flags: int, payload: bytes) -> bytes:
    """Strip RFC 7540 §6.2 PADDED / PRIORITY fields from a HEADERS
    frame payload, returning the raw header-block fragment."""
    i = 0
    pad = 0
    if flags & 0x8:  # PADDED
        pad = payload[0]
        i = 1
    if flags & 0x20:  # PRIORITY: 4-byte dep + 1-byte weight
        i += 5
    return payload[i:len(payload) - pad]


def pb_wrap_payload(data: bytes) -> bytes:
    """protobuf message {bytes payload = 1} -> wire bytes."""
    out = b"\x0a"
    n = len(data)
    while True:
        b = n & 0x7F
        n >>= 7
        out += bytes([b | (0x80 if n else 0)])
        if not n:
            return out + data


def pb_unwrap_payload(msg: bytes) -> bytes:
    assert msg[0] == 0x0A, "expected field 1 length-delimited"
    n = shift = 0
    i = 1
    while True:
        b = msg[i]
        n |= (b & 0x7F) << shift
        i += 1
        if not b & 0x80:
            break
        shift += 7
    return msg[i:i + n]


def read_h2(conn: socket.socket) -> tuple[int, int, int, bytes]:
    hdr = recv_exact(conn, 9)
    size = struct.unpack(">I", b"\x00" + hdr[:3])[0]
    stream = struct.unpack(">I", hdr[5:9])[0] & 0x7FFFFFFF
    return hdr[3], hdr[4], stream, recv_exact(conn, size)


class GrpcLinesClient:
    """One HTTP/2 connection; unary calls on successive odd streams.

    Flow control (RFC 7540 §5.2, §6.9) is tracked and ENFORCED on the
    send path: the connection and per-stream send windows start at
    65535, SETTINGS_INITIAL_WINDOW_SIZE re-bases open stream windows
    (§6.9.2), WINDOW_UPDATE replenishes, and ``call`` blocks — reading
    frames, which is what delivers the replenishment — whenever the
    next DATA chunk would overrun ``min(conn, stream)`` window. A
    payload of any size is therefore safe against a real gRPC server;
    nothing is ever written beyond what the peer advertised. The
    receive direction is covered too: every server DATA frame is
    acknowledged with connection+stream WINDOW_UPDATEs, so a
    long-lived connection (one per executor partition) can't starve
    the server's send window across thousands of unary responses."""

    def __init__(self, host: str, port: int, path: str,
                 timeout_s: float = 10.0):
        self.path = path.encode()
        self.authority = f"{host}:{port}".encode()
        self.sock = socket.create_connection((host, port), timeout=timeout_s)
        self.sock.sendall(H2_PREFACE)
        self.sock.sendall(h2_frame(4, 0, 0, b""))  # SETTINGS
        self.next_stream = 1
        # HPACK dynamic-table state is connection-scoped (RFC 7541
        # §2.2): one decoder for every response block on this socket
        self.hpack = HpackDecoder()
        # send-direction flow control (RFC 7540 §6.9.1 initial values;
        # the peer's SETTINGS/WINDOW_UPDATE frames move them)
        self.conn_window = 65535
        self.peer_initial_window = 65535
        self.max_frame_size = 16384
        self.stream_windows: dict[int, int] = {}

    def _apply_settings(self, payload: bytes) -> None:
        """Peer SETTINGS: INITIAL_WINDOW_SIZE (0x4) re-bases every open
        stream's window by the delta (§6.9.2 — it does NOT touch the
        connection window); MAX_FRAME_SIZE (0x5) caps our DATA frames."""
        for off in range(0, len(payload) - 5, 6):
            ident, value = struct.unpack_from(">HI", payload, off)
            if ident == 0x4:
                delta = value - self.peer_initial_window
                self.peer_initial_window = value
                for s in self.stream_windows:
                    self.stream_windows[s] += delta
            elif ident == 0x5:
                self.max_frame_size = value

    def call(self, payload: bytes) -> None:
        """Unary call; raises GrpcCallError on non-zero grpc-status."""
        stream = self.next_stream
        self.next_stream += 2
        self.stream_windows[stream] = self.peer_initial_window
        hdr_block = b"".join(hpack_literal(n, v) for n, v in [
            (b":method", b"POST"), (b":scheme", b"http"),
            (b":path", self.path), (b":authority", self.authority),
            (b"content-type", b"application/grpc"), (b"te", b"trailers"),
        ])
        # response state threaded through both the send-blocked reads
        # and the response loop: header blocks may span HEADERS +
        # CONTINUATION frames (END_HEADERS terminates the block)
        hdr_buf = b""
        hdr_open = False
        status: list[tuple[int, str]] = []

        def process_frame() -> None:
            nonlocal hdr_buf, hdr_open
            ftype, flags, fstream, fpayload = read_h2(self.sock)
            if ftype == 4 and not flags & 1:  # peer SETTINGS -> apply+ACK
                self._apply_settings(fpayload)
                self.sock.sendall(h2_frame(4, 1, 0, b""))
            elif ftype == 6 and not flags & 1:  # PING -> ACK
                self.sock.sendall(h2_frame(6, 1, 0, fpayload))
            elif ftype == 8:  # WINDOW_UPDATE (§6.9)
                inc = struct.unpack(">I", fpayload)[0] & 0x7FFFFFFF
                if fstream == 0:
                    self.conn_window += inc
                elif fstream in self.stream_windows:
                    self.stream_windows[fstream] += inc
            elif ftype == 0 and fpayload:
                # receive-side flow control: acknowledge server DATA
                # (response messages) so a long-lived connection never
                # starves the server's send window toward us
                inc = struct.pack(">I", len(fpayload))
                self.sock.sendall(h2_frame(8, 0, 0, inc))
                self.sock.sendall(h2_frame(8, 0, fstream, inc))
            elif ftype == 3 and fstream == stream:  # RST_STREAM
                err = struct.unpack(">I", fpayload)[0]
                raise ConnectionError(f"RST_STREAM error {err}")
            elif ftype == 1 and fstream == stream:
                hdr_buf = headers_fragment(flags, fpayload)
                hdr_open = not flags & 0x4
            elif ftype == 9 and fstream == stream and hdr_open:
                hdr_buf += fpayload
                hdr_open = not flags & 0x4
            if ftype in (1, 9) and fstream == stream and not hdr_open:
                hdrs = self.hpack.decode_dict(hdr_buf)
                hdr_buf = b""
                if b"grpc-status" in hdrs:
                    status.append((int(hdrs[b"grpc-status"]),
                                   hdrs.get(b"grpc-message", b"").decode()))

        try:
            self.sock.sendall(h2_frame(1, 0x4, stream, hdr_block))
            msg = pb_wrap_payload(payload)
            grpc_frame = b"\x00" + struct.pack(">I", len(msg)) + msg
            off = 0
            while off < len(grpc_frame) and not status:
                # §5.2: each DATA chunk must fit BOTH windows; when
                # they are exhausted, block on the peer's frames —
                # that is where WINDOW_UPDATE arrives (this is the
                # wait the old implementation documented but lacked)
                avail = min(self.conn_window, self.stream_windows[stream])
                if avail <= 0:
                    process_frame()
                    continue
                chunk = grpc_frame[off:off + min(avail, self.max_frame_size)]
                off += len(chunk)
                last = off >= len(grpc_frame)
                self.sock.sendall(
                    h2_frame(0, 0x1 if last else 0x0, stream, chunk))
                self.conn_window -= len(chunk)
                self.stream_windows[stream] -= len(chunk)
            while not status:
                process_frame()
        finally:
            # error exits (RST_STREAM, socket timeout) must not leak
            # the per-stream window on a connection the caller retries
            self.stream_windows.pop(stream, None)
        st, smsg = status[0]
        if st != 0:
            raise GrpcCallError(st, smsg)

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass


def send_rows_partition(
    rows,
    host: str,
    port: int,
    path: str,
    batch_size: int,
    to_line,
    max_retries: int = 3,
    initial_backoff_ms: int = 100,
    backoff_multiplier: float = 2.0,
    max_backoff_ms: int = 30_000,
) -> None:
    """foreachPartition body: batch rows to JSON lines, send each batch
    as one unary call, retrying with the reference's exponential
    backoff (initial * multiplier^n, capped — policy.rs:33-47). A
    batch that exhausts retries raises, failing the task (Spark task
    retry then re-runs the partition — at-least-once, the reference's
    default sink guarantee)."""
    client = GrpcLinesClient(host, port, path)
    try:
        batch: list[str] = []

        def flush() -> None:
            nonlocal client
            if not batch:
                return
            payload = "\n".join(batch).encode()
            for attempt in range(max_retries + 1):
                try:
                    client.call(payload)
                    break
                except (GrpcCallError, ConnectionError, OSError):
                    if attempt == max_retries:
                        raise
                    delay = min(
                        initial_backoff_ms * backoff_multiplier ** attempt,
                        max_backoff_ms,
                    )
                    time.sleep(delay / 1000.0)
                    client.close()
                    client = GrpcLinesClient(host, port, path)
            batch.clear()

        for row in rows:
            batch.append(to_line(row))
            if len(batch) >= batch_size:
                flush()
        flush()
    finally:
        client.close()


class GrpcLinesReceiver:
    """Hermetic multi-connection gRPC receiver: decodes each unary
    call's payload and hands it to ``on_payload``; ``fail_first``
    rejects that many calls with grpc-status 14 (UNAVAILABLE) to
    exercise the client's retry/backoff path."""

    def __init__(self, on_payload, path: bytes, fail_first: int = 0):
        import threading

        self.on_payload = on_payload
        self.path = path
        self.fail_remaining = fail_first
        self.calls = 0
        self._lock = threading.Lock()
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(16)
        self.port = self.sock.getsockname()[1]
        self._accept_thread = threading.Thread(target=self._accept, daemon=True)
        self._accept_thread.start()

    def _accept(self) -> None:
        import threading

        while True:
            try:
                conn, _ = self.sock.accept()
            except OSError:
                return
            threading.Thread(target=self._serve, args=(conn,), daemon=True).start()

    def _serve(self, conn: socket.socket) -> None:
        try:
            assert recv_exact(conn, len(H2_PREFACE)) == H2_PREFACE
            conn.sendall(h2_frame(4, 0, 0, b""))
            bufs: dict[int, bytes] = {}
            dec = HpackDecoder()  # connection-scoped (RFC 7541 §2.2)
            hdr_buf: dict[int, bytes] = {}  # open header blocks
            while True:
                ftype, flags, stream, payload = read_h2(conn)
                if ftype == 4 and not flags & 1:
                    conn.sendall(h2_frame(4, 1, 0, b""))
                elif ftype == 6 and not flags & 1:  # PING -> ACK
                    conn.sendall(h2_frame(6, 1, 0, payload))
                elif ftype == 1 or (ftype == 9 and stream in hdr_buf):
                    if ftype == 1:
                        hdr_buf[stream] = headers_fragment(flags, payload)
                    else:
                        hdr_buf[stream] += payload
                    if not flags & 0x4:  # END_HEADERS not yet seen
                        continue
                    hdrs = dec.decode_dict(hdr_buf.pop(stream))
                    if b":path" in hdrs:
                        assert hdrs[b":path"] == self.path
                        bufs[stream] = b""
                elif ftype == 0:
                    bufs[stream] = bufs.get(stream, b"") + payload
                    if payload:
                        # replenish both windows as data is consumed
                        # (RFC 7540 §6.9) — without this a sender that
                        # honors flow control stalls at 65535 bytes
                        inc = struct.pack(">I", len(payload))
                        conn.sendall(h2_frame(8, 0, 0, inc))
                        conn.sendall(h2_frame(8, 0, stream, inc))
                    if flags & 1:  # END_STREAM: decode + respond
                        buf = bufs.pop(stream)
                        comp, mlen = buf[0], struct.unpack(">I", buf[1:5])[0]
                        assert comp == 0 and len(buf) == 5 + mlen
                        data = pb_unwrap_payload(buf[5:5 + mlen])
                        with self._lock:
                            self.calls += 1
                            fail = self.fail_remaining > 0
                            if fail:
                                self.fail_remaining -= 1
                        conn.sendall(h2_frame(1, 0x4, stream, (
                            hpack_literal(b":status", b"200")
                            + hpack_literal(b"content-type", b"application/grpc")
                        )))
                        if fail:
                            trailers = (hpack_literal(b"grpc-status", b"14")
                                        + hpack_literal(b"grpc-message", b"unavailable"))
                        else:
                            self.on_payload(data)
                            trailers = (hpack_literal(b"grpc-status", b"0")
                                        + hpack_literal(b"grpc-message", b""))
                        conn.sendall(h2_frame(1, 0x5, stream, trailers))
        except (ConnectionError, AssertionError, OSError):
            pass
        finally:
            conn.close()

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass
