"""Native beats (lumberjack v2) streaming input.

Reference: logstash-input-beats (rakelib/plugins-metadata.json:248) — the
reference implements the lumberjack v2 wire protocol in Java (the
beats-input netty pipeline); the protocol itself is public
(elastic/go-lumber PROTOCOL.md): frames are ``<version><type>`` headers,

* ``2W`` + uint32  — window size: the client expects an ACK after this
  many data frames,
* ``2J`` + uint32 seq + uint32 len + payload — one JSON event,
* ``2C`` + uint32 len + zlib payload — a compressed batch of J frames,
* ``2A`` + uint32 seq — server ACK (we ack the batch's highest seq),
* ``2D`` — the legacy key/value data frame (count + len-prefixed pairs).

This replaces the round-4 "bridging recipe" (filebeat → ndjson file →
LSCL): a driver-side TCP listener speaks the real protocol, spools one
JSON line per event into the same replayable spool the http/udp inputs
use (sources/http_input.py), and ACKs per window — so filebeat's
at-least-once retry contract composes with the spool's exactly-once
downstream replay exactly like the reference's beats→PQ path.  LSCL:
``input { beats { spool_dir port } }``.
"""

from __future__ import annotations

import datetime
import json
import os
import socketserver
import struct
import threading
import zlib

from logstash_spark.sources.http_input import _SPOOL_FILE

PROTOCOL_VERSION = ord("2")


def _read_exact(rfile, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = rfile.read(n - len(buf))
        if not chunk:
            raise ConnectionError("beats: peer closed mid-frame")
        buf += chunk
    return buf


class _Conn:
    """One lumberjack v2 connection: parse frames, collect events, ack."""

    def __init__(self, rfile, wfile, spool: "BeatsSpool", peer: str):
        self.rfile, self.wfile = rfile, wfile
        self.spool, self.peer = spool, peer
        self.window = 0
        self.pending: list[tuple[int, str]] = []  # (seq, json payload)

    def run(self) -> None:
        while True:
            hdr = self.rfile.read(2)
            if not hdr:
                break  # clean EOF between frames
            if len(hdr) < 2 or hdr[0] != PROTOCOL_VERSION:
                raise ValueError(f"beats: bad frame header {hdr!r}")
            self._frame(chr(hdr[1]), self.rfile)

    def _frame(self, ftype: str, rfile) -> None:
        if ftype == "W":
            (self.window,) = struct.unpack(">I", _read_exact(rfile, 4))
        elif ftype == "J":
            seq, n = struct.unpack(">II", _read_exact(rfile, 8))
            self.pending.append(
                (seq, _read_exact(rfile, n).decode("utf-8", "replace")))
            self._maybe_flush()
        elif ftype == "D":
            # legacy v1-style key/value frame: seq + pair count + pairs
            seq, pairs = struct.unpack(">II", _read_exact(rfile, 8))
            ev = {}
            for _ in range(pairs):
                (kn,) = struct.unpack(">I", _read_exact(rfile, 4))
                k = _read_exact(rfile, kn).decode("utf-8", "replace")
                (vn,) = struct.unpack(">I", _read_exact(rfile, 4))
                ev[k] = _read_exact(rfile, vn).decode("utf-8", "replace")
            self.pending.append((seq, json.dumps(ev)))
            self._maybe_flush()
        elif ftype == "C":
            (n,) = struct.unpack(">I", _read_exact(rfile, 4))
            payload = zlib.decompress(_read_exact(rfile, n))
            import io

            inner = io.BufferedReader(io.BytesIO(payload))
            while True:
                hdr = inner.read(2)
                if not hdr:
                    break
                if len(hdr) < 2 or hdr[0] != PROTOCOL_VERSION:
                    raise ValueError("beats: bad inner frame")
                self._frame(chr(hdr[1]), inner)
        else:
            raise ValueError(f"beats: unsupported frame type {ftype!r}")

    def _maybe_flush(self) -> None:
        """Spool + ACK when a full window arrived (window=0: per frame).

        Spool BEFORE ack: the event is fsynced durable when filebeat is
        told it may drop it — the same ordering the reference enforces by
        acking only after the event enters the persisted queue."""
        if len(self.pending) >= max(self.window, 1):
            self._flush()

    def _flush(self) -> None:
        if not self.pending:
            return
        self.spool.append([p for _, p in self.pending], self.peer)
        top = max(s for s, _ in self.pending)
        self.wfile.write(bytes([PROTOCOL_VERSION, ord("A")])
                         + struct.pack(">I", top))
        self.wfile.flush()
        self.pending.clear()


class BeatsSpool:
    """The listener half: a lumberjack v2 TCP server spooling events into
    the http_input spool format (same Python Data Source replays it)."""

    def __init__(self, spool_dir: str, host: str = "127.0.0.1",
                 port: int = 0):
        self.spool_dir = spool_dir
        os.makedirs(spool_dir, exist_ok=True)
        self.path = os.path.join(spool_dir, _SPOOL_FILE)
        self._lock = threading.Lock()
        spool = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self):
                try:
                    conn = _Conn(self.rfile, self.wfile, spool,
                                 self.client_address[0])
                    conn.run()
                    conn._flush()  # partial window at EOF still spools
                except (ConnectionError, ValueError):
                    pass  # a bad peer must not take the listener down

        class Server(socketserver.ThreadingTCPServer):
            daemon_threads = True
            allow_reuse_address = True

        self._srv = Server((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._srv.server_address[1]

    def append(self, payloads: list[str], peer: str) -> None:
        from logstash_spark.sources.http_input import append_spool_lines

        now = datetime.datetime.now(datetime.timezone.utc).isoformat()
        with self._lock:
            append_spool_lines(self.spool_dir, [
                {"message": p, "remote_addr": peer,
                 "content_type": "application/x-lumberjack",
                 "received_at": now} for p in payloads])

    def start(self) -> "BeatsSpool":
        self._thread = threading.Thread(target=self._srv.serve_forever,
                                        name="beats-input", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()

    def __enter__(self) -> "BeatsSpool":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


# -- a minimal client (tests + the logstash-output-lumberjack analog) -------

def lumberjack_send(host: str, port: int, events: list[dict],
                    window: int | None = None,
                    compress: bool = True) -> int:
    """Send ``events`` as one lumberjack v2 batch; returns the acked seq.
    This is both the test client and a logstash-output-lumberjack
    (plugins-metadata.json:510) analog for driver-side fan-out."""
    import socket

    frames = b""
    for i, ev in enumerate(events, start=1):
        payload = json.dumps(ev).encode()
        frames += (bytes([PROTOCOL_VERSION, ord("J")])
                   + struct.pack(">II", i, len(payload)) + payload)
    if compress:
        z = zlib.compress(frames)
        body = (bytes([PROTOCOL_VERSION, ord("C")])
                + struct.pack(">I", len(z)) + z)
    else:
        body = frames
    win = (bytes([PROTOCOL_VERSION, ord("W")])
           + struct.pack(">I", window if window is not None
                         else len(events)))
    with socket.create_connection((host, port), timeout=10) as s:
        s.sendall(win + body)
        hdr = s.recv(2)
        if len(hdr) < 2 or hdr[0] != PROTOCOL_VERSION or hdr[1] != ord("A"):
            raise ConnectionError(f"beats: expected ACK, got {hdr!r}")
        buf = b""
        while len(buf) < 4:
            chunk = s.recv(4 - len(buf))
            if not chunk:
                raise ConnectionError(
                    f"beats: peer closed mid-ACK after {len(buf)} of 4 bytes")
            buf += chunk
        (acked,) = struct.unpack(">I", buf)
        return acked
