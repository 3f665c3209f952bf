"""Pooled HTTP fetcher against a live local server: keep-alive reuse,
redirect following (a 3xx must download, not dead-letter), and loop
protection."""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from wordpress_sql_to_contentstack_exporter_spark.sources.http import pooled_fetch_factory

BODY = b"PNG-BYTES"


class Handler(BaseHTTPRequestHandler):
    hits: dict[str, int] = {}

    def do_GET(self):
        Handler.hits[self.path] = Handler.hits.get(self.path, 0) + 1
        if self.path == "/old.png":  # permanent move, absolute Location
            self.send_response(301)
            self.send_header("Location", f"http://{self.headers['Host']}/real/new.png")
            self.end_headers()
        elif self.path == "/rel.png":  # relative Location
            self.send_response(302)
            self.send_header("Location", "real/new.png")
            self.end_headers()
        elif self.path == "/real/new.png":
            self.send_response(200)
            self.send_header("Content-Length", str(len(BODY)))
            self.end_headers()
            self.wfile.write(BODY)
        elif self.path == "/loop.png":
            self.send_response(302)
            self.send_header("Location", "/loop.png")
            self.end_headers()
        else:
            self.send_response(404)
            self.end_headers()

    def log_message(self, *args):  # quiet
        pass


@pytest.fixture(scope="module")
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_pooled_fetch_follows_absolute_redirect(server):
    fetch = pooled_fetch_factory()
    assert fetch(f"{server}/old.png", timeout=5) == BODY


def test_pooled_fetch_follows_relative_redirect(server):
    fetch = pooled_fetch_factory()
    assert fetch(f"{server}/rel.png", timeout=5) == BODY


def test_pooled_fetch_redirect_loop_raises(server):
    fetch = pooled_fetch_factory()
    with pytest.raises(RuntimeError, match="too many redirects"):
        fetch(f"{server}/loop.png", timeout=5)


def test_pooled_fetch_404_raises(server):
    fetch = pooled_fetch_factory()
    with pytest.raises(RuntimeError, match="status code: 404"):
        fetch(f"{server}/missing.png", timeout=5)


def test_pooled_fetch_reuses_connection_across_requests(server):
    """Both requests ride one keep-alive connection (no per-request
    connection churn): the point of the pooled fetcher."""
    fetch = pooled_fetch_factory()
    before = Handler.hits.get("/real/new.png", 0)
    assert fetch(f"{server}/real/new.png", timeout=5) == BODY
    assert fetch(f"{server}/real/new.png", timeout=5) == BODY
    assert Handler.hits["/real/new.png"] == before + 2
