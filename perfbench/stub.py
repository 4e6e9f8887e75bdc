"""In-process InfluxDB ``/api/v2`` stub for the migration workload.

Answers the Flux oldest-point probe (``/api/v2/query``) with a fixed
boundary, so the migration moves only points older than it, and
accepts ``/api/v2/write`` bodies. Bodies are kept raw: splitting and
hashing them happens in ``lines()`` after the timed region, so the
stub costs the sink no more than a socket read.
"""

from __future__ import annotations

import http.server
import threading
from datetime import datetime, timezone


class InfluxStub:
    def __init__(self, boundary_s: int):
        self.lock = threading.Lock()
        self.bodies: list[bytes] = []
        #: requests answered with an error status
        self.failed = 0
        iso = datetime.fromtimestamp(boundary_s, timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%SZ")
        csv = (
            "#group,false,false,true,true,false,true\r\n"
            "#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,"
            "dateTime:RFC3339,string\r\n"
            "#default,_result,,,,,\r\n"
            ",result,table,_start,_stop,_time,_measurement\r\n"
            f",,0,1970-01-01T00:00:00Z,2030-01-01T00:00:00Z,{iso},W\r\n"
        ).encode()
        stub = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):
                body = self.rfile.read(int(self.headers["Content-Length"]))
                if self.path.startswith("/api/v2/query"):
                    self.send_response(200)
                    self.send_header("Content-Type", "application/csv")
                    self.send_header("Content-Length", str(len(csv)))
                    self.end_headers()
                    self.wfile.write(csv)
                    return
                if not self.path.startswith("/api/v2/write"):
                    with stub.lock:
                        stub.failed += 1
                    self.send_response(404)
                    self.end_headers()
                    return
                with stub.lock:
                    stub.bodies.append(body)
                self.send_response(204)
                self.end_headers()

            def log_message(self, *args):
                pass

        self.httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0),
                                                     Handler)
        self.httpd.daemon_threads = True
        self.url = f"http://127.0.0.1:{self.httpd.server_address[1]}"
        self.thread = threading.Thread(target=self.httpd.serve_forever,
                                       daemon=True)
        self.thread.start()

    def take(self) -> tuple[list[bytes], int]:
        """Bodies received and requests failed since the last call (and
        forget them)."""
        with self.lock:
            out, self.bodies = self.bodies, []
            failed, self.failed = self.failed, 0
        return out, failed

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join(timeout=10)


def lines(bodies: list[bytes]) -> list[str]:
    """Line-protocol lines of a batch of write bodies."""
    return [ln for b in bodies for ln in b.decode().split("\n") if ln]
