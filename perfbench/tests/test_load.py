import http.server
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import load  # noqa: E402
from stats import open_loop_latency  # noqa: E402


class Handler(http.server.BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def do_GET(self):
        if self.path == "/slow":
            time.sleep(0.8)
        body = b"ok"
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):
        pass


def test_open_loop_charges_a_stall_to_the_requests_behind_it():
    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        # one connection: the fast requests due during the slow one wait for it
        due = [0.0, 0.1, 0.2, 0.3]
        reqs = [{"path": "/slow"}, {"path": "/fast"}, {"path": "/fast"}, {"path": "/fast"}]
        out = load.open_loop(server.server_port, due, reqs, threads=1)
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=10)
    assert not thread.is_alive()
    recs = out["records"]
    assert all(r["status"] == 200 for r in recs)
    lat = [open_loop_latency(r["due"], r["end"]) for r in recs]
    service = [r["end"] - r["start"] for r in recs]
    # the request due at 0.1 s waited ~0.7 s for the connection; timed
    # from its send it would look as fast as the others
    assert lat[1] > 0.5 and service[1] < 0.3
    assert lat[1] > lat[2] > lat[3]
    assert all(r["queued"] - r["due"] < 0.1 for r in recs)  # the generator itself kept time
