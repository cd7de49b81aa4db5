"""Loopback upload endpoint for the ``etl_upload`` workload.

Runs as its own process, so the program's urllib transport makes real HTTP
round trips. It serves the reference's ``startWithFile`` route and:

- answers 503 to the first attempt of every upload whose op is listed in
  the manifest's ``fail_first`` (the program's retry/backoff must recover);
- checks that each multipart file part hashes to the bytes the benchmark
  wrote for that upload (``expect``: op file name -> sha256 per upload of
  that path, in order; files are named ``p<pass>_<op>.csv``);
- keeps one record per accepted upload, served at ``GET /log``.

Usage: python3 endpoint.py <manifest.json> <port-file>
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class UploadLog:
    def __init__(self, manifest: dict) -> None:
        self.expect: dict[str, list[str]] = manifest["expect"]
        self.fail_first = set(manifest["fail_first"])
        self.attempts: dict[str, int] = {}
        self.accepted: dict[str, int] = {}
        self.records: list[dict] = []
        self.lock = threading.Lock()

    def attempt(self, name: str, payload: bytes) -> int:
        """Book one POST of ``name``; return the HTTP status to answer."""
        op = name.split("_", 1)[-1]
        with self.lock:
            n = self.attempts[name] = self.attempts.get(name, 0) + 1
            k = self.accepted.get(name, 0)
            if op in self.fail_first and n == 1:
                return 503
            expected = self.expect.get(op, [])
            ok = k < len(expected) and hashlib.sha256(payload).hexdigest() == expected[k]
            self.accepted[name] = k + 1
            self.records.append(
                {"name": name, "upload": k, "attempts": n, "payload_ok": ok}
            )
            # a later upload of the same path starts its own attempt count
            self.attempts[name] = 0
            return 200


def file_part(body: bytes, content_type: str) -> tuple[str, bytes] | None:
    """(filename, bytes) of the one file part of a multipart/form-data body."""
    m = re.search(r"boundary=(\S+)", content_type)
    if not m:
        return None
    boundary = m.group(1).encode()
    head_end = body.find(b"\r\n\r\n")
    tail = body.rfind(b"\r\n--" + boundary + b"--")
    name = re.search(rb'filename="([^"]*)"', body[:head_end])
    if head_end < 0 or tail < head_end or not name:
        return None
    return name.group(1).decode(), body[head_end + 4 : tail]


def make_handler(log: UploadLog) -> type[BaseHTTPRequestHandler]:
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args) -> None:  # keep stderr quiet
            pass

        def _reply(self, status: int, doc: object) -> None:
            data = json.dumps(doc).encode()
            self.send_response(status)
            self.send_header("content-type", "application/json")
            self.send_header("content-length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_POST(self) -> None:
            body = self.rfile.read(int(self.headers.get("content-length", 0)))
            part = file_part(body, self.headers.get("content-type", ""))
            if part is None or not self.path.endswith("/startWithFile"):
                self._reply(400, {"error": "expected one multipart file part"})
                return
            status = log.attempt(*part)
            self._reply(status, {"jobId": part[0]} if status == 200 else {"error": "busy"})

        def do_GET(self) -> None:
            if self.path == "/log":
                with log.lock:
                    self._reply(200, log.records)
            else:
                self._reply(404, {})

    return Handler


def main(manifest_path: str, port_file: str) -> int:
    with open(manifest_path) as f:
        log = UploadLog(json.load(f))
    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(log))
    with open(port_file + ".tmp", "w") as f:
        f.write(str(server.server_address[1]))
    os.replace(port_file + ".tmp", port_file)
    server.serve_forever()
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
