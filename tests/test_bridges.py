"""Bridging recipes for the three documented-out inputs (udp, beats, http).

Spark Structured Streaming has no UDP source, no lumberjack(beats) server,
and no HTTP listener — the documented deployment shape (SURVEY §2.9, and
the reference's own guidance for unreliable edges) is a thin collector in
front that lands events on a durable bus (files here; kafka in prod), with
the Spark pipeline tailing it.  These tests ARE those recipes, end-to-end:
a real collector socket/server receives real wire traffic, spools to files,
and the LSCL-compiled pipeline parses the spool — mirroring the
qa/integration/fixtures/*_spec.yml input round-trip shapes.
"""

from __future__ import annotations

import json
import os
import socket
import threading

from pyspark.sql import functions as F


def _spool(tmp_path, name: str) -> str:
    d = tmp_path / name
    d.mkdir()
    return str(d)


# ---------------------------------------------------------------------------
# udp syslog -> file spool -> LSCL file input + grok/syslog_pri filter
# ---------------------------------------------------------------------------

def test_udp_syslog_bridge(spark, tmp_path):
    """Classic syslog is UDP 514; the recipe is a UDP collector that spools
    datagrams to files, with the pipeline tailing the spool (the reference
    itself fronts lossy UDP with its persisted queue)."""
    from logstash_spark.plans.lscl import compile_lscl_job

    spool = _spool(tmp_path, "udp_spool")
    srv = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    datagrams = [
        b"<34>Oct 11 22:14:15 host1 su[1024]: auth failure",
        b"<13>Feb  5 17:32:18 web-07 nginx: GET / 200",
    ]
    got = []

    def collect():
        srv.settimeout(10)
        while len(got) < len(datagrams):
            data, _ = srv.recvfrom(65535)
            got.append(data.decode())
        # collector lands one spool file per flush (fixture: single flush)
        with open(os.path.join(spool, "part-0.log"), "w") as f:
            f.write("\n".join(got) + "\n")

    t = threading.Thread(target=collect, daemon=True)
    t.start()
    cli = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    for d in datagrams:
        cli.sendto(d, ("127.0.0.1", port))
    t.join(timeout=15)
    assert len(got) == len(datagrams), "collector did not receive the datagrams"

    job = compile_lscl_job(f"""
    input {{ file {{ path => "{spool}" }} }}
    filter {{
      grok {{ match => {{ "message" => "<%{{INT:pri:int}}>%{{GREEDYDATA:rest}}" }} }}
    }}
    output {{ null {{}} }}
    """)
    out = job.run(spark)
    rows = {r.pri: r.rest for r in out.collect()}
    assert rows[34].startswith("Oct 11 22:14:15 host1 su[1024]:")
    assert rows[13].startswith("Feb  5 17:32:18 web-07 nginx:")


# ---------------------------------------------------------------------------
# beats -> ndjson spool -> LSCL file input (json_lines codec)
# ---------------------------------------------------------------------------

def test_beats_bridge(spark, tmp_path):
    """Beats speaks lumberjack v2 (binary, ack'd) — out of scope to
    terminate in Spark.  The recipe: point filebeat's `output.file` (or
    kafka) at a spool; its ndjson event shape is fixed and public.  This
    test writes that exact shape and runs the Spark side of the bridge."""
    from logstash_spark.plans.lscl import compile_lscl_job

    spool = _spool(tmp_path, "beats_spool")
    events = [
        {"@timestamp": "2024-06-01T00:00:00.000Z", "message": "status=200 bytes=5 tool=sql msg=ok",
         "host": {"name": "edge-1"}, "agent": {"type": "filebeat"}},
        {"@timestamp": "2024-06-01T00:00:01.000Z", "message": "status=500 bytes=9 tool=bash msg=boom",
         "host": {"name": "edge-2"}, "agent": {"type": "filebeat"}},
    ]
    with open(os.path.join(spool, "filebeat-0.ndjson"), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")

    job = compile_lscl_job(f"""
    input {{ file {{ path => "{spool}" codec => "json_lines" }} }}
    filter {{
      grok {{ match => {{ "message" => "status=%{{INT:status:int}} bytes=%{{INT:bytes:int}} tool=%{{WORD:tool_name}} msg=%{{WORD:msg}}" }} }}
    }}
    output {{ null {{}} }}
    """)
    out = job.run(spark)
    rows = {r.msg: r for r in out.collect()}
    assert rows["ok"].status == 200
    assert rows["boom"].tool_name == "bash"
    # beats metadata rides along like the reference's [host][name]
    assert {r["host"].name for r in rows.values()} == {"edge-1", "edge-2"}


# ---------------------------------------------------------------------------
# http webhook -> receiver spool -> LSCL file input (json_lines codec)
# ---------------------------------------------------------------------------

def test_http_webhook_bridge(spark, tmp_path):
    """http input (webhook ingestion): a tiny HTTP receiver appends each
    POST body to a spool, the pipeline tails the spool.  Real wire traffic
    via urllib against a live http.server."""
    import urllib.request
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from logstash_spark.plans.lscl import compile_lscl_job

    spool = _spool(tmp_path, "http_spool")
    spool_file = os.path.join(spool, "webhooks.ndjson")

    class Hook(BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            with open(spool_file, "a") as f:
                f.write(body.decode().rstrip("\n") + "\n")
            self.send_response(202)
            self.end_headers()

        def log_message(self, *a):  # quiet
            pass

    httpd = HTTPServer(("127.0.0.1", 0), Hook)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        for payload in ({"event": "deploy", "status": 200},
                        {"event": "rollback", "status": 500}):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/hook",
                data=json.dumps(payload).encode(),
                headers={"Content-Type": "application/json"})
            assert urllib.request.urlopen(req, timeout=10).status == 202
    finally:
        httpd.shutdown()

    job = compile_lscl_job(f"""
    input {{ file {{ path => "{spool}" codec => "json_lines" }} }}
    filter {{
      if [status] >= 400 {{ mutate {{ add_tag => ["failed_hook"] }} }}
    }}
    output {{ null {{}} }}
    """)
    out = job.run(spark)
    rows = {r.event: r for r in out.collect()}
    assert rows["deploy"].status == 200
    assert "failed_hook" in (rows["rollback"].tags or [])
    assert not rows["deploy"].tags


def test_lumberjack_send_peer_closing_mid_ack_raises():
    """A peer that closes after half of the 4-byte ACK count makes recv()
    return b"" forever; the client must raise, not spin.  The send runs in
    a thread so a spinning client fails this test on its join timeout
    instead of hanging the suite."""
    import pytest

    from logstash_spark.sources.beats_input import lumberjack_send

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)

    def peer():
        conn, _ = srv.accept()
        with conn:
            conn.settimeout(15)
            conn.recv(65536)
            conn.sendall(b"2A\x00\x00")  # ACK header plus 2 of 4 count bytes
            # half-close (FIN, not RST): the client sees a clean EOF; then
            # wait for it to hang up so unread bytes never turn into a reset
            conn.shutdown(socket.SHUT_WR)
            try:
                while conn.recv(65536):
                    pass
            except OSError:
                pass

    threading.Thread(target=peer, daemon=True).start()
    outcome = []

    def send():
        try:
            outcome.append(lumberjack_send("127.0.0.1", srv.getsockname()[1],
                                           [{"message": "x"}]))
        except Exception as e:  # noqa: BLE001 - the test inspects it below
            outcome.append(e)

    client = threading.Thread(target=send, daemon=True)
    client.start()
    client.join(timeout=10)
    srv.close()
    if client.is_alive():
        pytest.fail("lumberjack_send still running 10 s after the peer closed")
    assert isinstance(outcome[0], ConnectionError), outcome
