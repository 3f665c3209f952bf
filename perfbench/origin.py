"""Loopback asset origin, run as its own process.

    python3 perfbench/origin.py MANIFEST.json PORT_FILE

``MANIFEST.json`` maps a URL path to ``[behaviour, seed, asset id, body
length]``. The behaviour is fixed per URL:

- ``ok``: 200 with the asset bytes;
- ``fail``: 500 on every request (the dead-letter path);
- ``flaky``: 500 on the first request, then 200 (the retry path);
- ``redirect``: 301 to ``/r<path>``, which serves 200 (the pooled
  redirect-follow path).

Each response goes out in one ``sendall`` on a TCP_NODELAY socket: headers
and body written separately stall keep-alive clients ~40 ms per request
(Nagle plus delayed ACK). A fixed pool of at most ``nproc`` threads
accepts and serves connections. ``GET /__stats`` returns the requests
served per behaviour; ``GET /__quit`` stops the server. The bound port is
written to ``PORT_FILE`` once the socket listens.
"""

from __future__ import annotations

import json
import os
import socket
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from wpgen import asset_body  # noqa: E402

_REASONS = {200: "OK", 301: "Moved Permanently", 404: "Not Found", 500: "Internal Server Error"}


def _response(status: int, body: bytes = b"", extra: str = "") -> bytes:
    head = (
        f"HTTP/1.1 {status} {_REASONS[status]}\r\n"
        f"Content-Length: {len(body)}\r\nConnection: keep-alive\r\n{extra}\r\n"
    )
    return head.encode("latin-1") + body


class Origin:
    def __init__(self, manifest: dict[str, list]):
        self.manifest = manifest
        self.counts = {"ok": 0, "fail": 0, "flaky": 0, "redirect": 0}
        self.seen: set[str] = set()
        self.lock = threading.Lock()
        self.stop = threading.Event()

    def handle(self, path: str) -> bytes:
        if path == "/__stats":
            with self.lock:
                return _response(200, json.dumps(self.counts).encode())
        if path == "/__quit":
            self.stop.set()
            return _response(200)
        target = path[2:] if path.startswith("/r/") else path
        spec = self.manifest.get(target)
        if spec is None:
            return _response(404)
        behaviour, seed, aid, length = spec
        with self.lock:
            self.counts[behaviour] += 1
            first = target not in self.seen
            self.seen.add(target)
        if behaviour == "fail" or (behaviour == "flaky" and first):
            return _response(500)
        if behaviour == "redirect" and not path.startswith("/r/"):
            return _response(301, extra=f"Location: /r{path}\r\n")
        return _response(200, asset_body(seed, aid, length))

    def serve_conn(self, conn: socket.socket) -> None:
        conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        buf = b""
        with conn:
            while not self.stop.is_set():
                while b"\r\n\r\n" not in buf:
                    chunk = conn.recv(65536)
                    if not chunk:
                        return
                    buf += chunk
                head, buf = buf.split(b"\r\n\r\n", 1)
                parts = head.split(b"\r\n", 1)[0].split(b" ")
                path = parts[1].decode("latin-1") if len(parts) > 1 else "/"
                conn.sendall(self.handle(path))

    def worker(self, sock: socket.socket) -> None:
        while not self.stop.is_set():
            try:
                conn, _ = sock.accept()
            except socket.timeout:
                continue
            except OSError:
                return
            try:
                self.serve_conn(conn)
            except OSError:
                pass


def main() -> int:
    manifest_path, port_file = sys.argv[1], sys.argv[2]
    with open(manifest_path) as f:
        origin = Origin(json.load(f))
    sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    sock.bind(("127.0.0.1", 0))
    sock.listen(64)
    sock.settimeout(0.2)
    threads = [
        threading.Thread(target=origin.worker, args=(sock,), daemon=True)
        for _ in range(max(1, min(os.cpu_count() or 1, 4)))
    ]
    for t in threads:
        t.start()
    tmp = port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(sock.getsockname()[1]))
    os.replace(tmp, port_file)
    origin.stop.wait()
    sock.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
