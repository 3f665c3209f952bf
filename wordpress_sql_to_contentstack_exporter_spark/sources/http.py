"""HTTP binary asset plane (SURVEY.md §2 rows 6, 9-10, 45-46).

Reproduces the reference's download semantics (assets.js:70-140):

- filename = last ``/``-segment of the guid (assets.js:74-76)
- URL percent-encoded like JS ``encodeURI`` (assets.js:77)
- idempotent skip if ``<dest>/<ID>/<name>`` already exists (assets.js:78-80);
  a body is written to ``<name>.part`` and renamed on success, so the
  skip never trusts a download a crash cut short
- 60 s timeout (assets.js:84), retry-once then dead-letter (assets.js:88-125)
- successful download clears any previous DLQ entry (assets.js:133-137)

Spark-first shape: the asset table is a DataFrame; the downloader runs in
``mapInPandas`` so each partition holds one HTTP session (connection
reuse) and the result — (id, url, filename, path, status, error) — is a
DataFrame, not a side effect. Politeness/parallelism is the partition
count (the reference's ``guard.n(2)`` becomes ``repartition(n)``); DLQ
and the success manifest are derived by filtering the result, and resume
is a left-anti join against the manifest — all plan-level, no driver
loops. At 100 TB-asset scale the same job shape holds: repartition by a
hash of the URL host to spread origins, size partitions to a politeness
budget, write to object storage.
"""

from __future__ import annotations

import os
import urllib.parse
from collections.abc import Callable, Iterator
from typing import Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("filename", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("status", T.StringType(), False),  # downloaded|skipped|failed
        T.StructField("error", T.StringType(), True),
        T.StructField("attempts", T.IntegerType(), False),  # fetch calls made (0 if skipped)
    ]
)

#: JS encodeURI reserved set: these characters are NOT escaped.
_ENCODE_URI_SAFE = "!#$&'()*+,-./:;=?@_~"


def encode_uri(url: str) -> str:
    """JS ``encodeURI`` equivalent (percent-encode outside the URI-reserved
    and unreserved sets, UTF-8)."""
    return urllib.parse.quote(url, safe=_ENCODE_URI_SAFE)


#: Follow at most this many 3xx hops (loop guard; WP media URLs commonly
#: 301 to https or to a CDN host).
_MAX_REDIRECTS = 5


def pooled_fetch_factory():
    """Build a per-partition fetch with keep-alive connection reuse: one
    ``http.client`` connection per (scheme, host), reused across that
    partition's downloads — 100k same-host media files perform a handful
    of TCP/TLS handshakes instead of 100k. Called once per partition
    inside the downloader.

    3xx responses follow ``Location`` (up to ``_MAX_REDIRECTS`` hops,
    relative or absolute; a longer chain raises), so an http->https
    upgrade or a CDN move downloads instead of dead-lettering."""
    import http.client

    conns: dict = {}

    def fetch_one(url: str, timeout: float):
        """Single GET on the pooled connection; returns (status, location, body)."""
        parts = urllib.parse.urlsplit(url)
        key = (parts.scheme, parts.netloc)
        conn = conns.get(key)
        if conn is None:
            cls = (
                http.client.HTTPSConnection
                if parts.scheme == "https"
                else http.client.HTTPConnection
            )
            conn = cls(parts.netloc, timeout=timeout)
            conns[key] = conn
        path = parts.path or "/"
        if parts.query:
            path += "?" + parts.query
        try:
            conn.request("GET", path)
            resp = conn.getresponse()
            body = resp.read()  # must drain even on redirect to reuse the conn
        except Exception:
            conn.close()
            conns.pop(key, None)
            raise
        # getheader is case-insensitive (header casing is sender-defined)
        return resp.status, resp.getheader("Location"), body

    def fetch(url: str, timeout: float) -> bytes:
        current = url
        for _ in range(_MAX_REDIRECTS + 1):
            status, location, body = fetch_one(current, timeout)
            if status in (301, 302, 303, 307, 308):
                if not location:
                    raise RuntimeError(f"status code: {status} (no Location)")
                current = urllib.parse.urljoin(current, location)
                continue
            if status != 200:
                raise RuntimeError(f"status code: {status}")
            return body
        raise RuntimeError(f"too many redirects (> {_MAX_REDIRECTS}): {url}")

    return fetch


def download_assets(
    assets: DataFrame,
    dest_dir: str,
    *,
    id_col: str = "ID",
    url_col: str = "guid",
    timeout: float = 60.0,
    retries: int = 1,
    parallelism: int = 2,
    skip_existing: bool = True,
    fetch: Optional[Callable[[str, float], bytes]] = None,
) -> DataFrame:
    """Download every asset row to ``<dest_dir>/<id>/<filename>``.

    Returns the result DataFrame (RESULT_SCHEMA). ``fetch`` is injectable
    for tests; it must be picklable (a module-level function or closure).
    Without an injected fetch, each partition builds a pooled keep-alive
    fetcher (``pooled_fetch_factory``). Defaults mirror the reference:
    timeout 60 s, one retry, 2-way parallelism.
    """
    injected = fetch
    rows = assets.selectExpr(
        f"cast({id_col} as long) as id", f"cast({url_col} as string) as url"
    ).repartition(max(1, parallelism))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fetch_fn = injected or pooled_fetch_factory()
        for pdf in batches:
            out = {k: [] for k in ("id", "url", "filename", "path", "status", "error", "attempts")}
            for rid, raw_url in zip(pdf["id"], pdf["url"]):
                name = (raw_url or "").split("/")[-1]
                url = encode_uri(raw_url or "")
                target_dir = os.path.join(dest_dir, str(rid))
                target = os.path.join(target_dir, name)
                status, error, tries = "downloaded", None, 0
                if skip_existing and os.path.exists(target):
                    status = "skipped"
                else:
                    last_err = None
                    while tries <= retries:
                        tries += 1
                        try:
                            body = fetch_fn(url, timeout)
                            os.makedirs(target_dir, exist_ok=True)
                            with open(target + ".part", "wb") as f:
                                f.write(body)
                            os.replace(target + ".part", target)
                            last_err = None
                            break
                        except Exception as e:  # noqa: BLE001 — any failure dead-letters
                            last_err = f"{type(e).__name__}: {e}"
                    if last_err is not None:
                        status, error, target = "failed", last_err, None
                out["id"].append(rid)
                out["url"].append(url)
                out["filename"].append(name)
                out["path"].append(target)
                out["status"].append(status)
                out["error"].append(error)
                out["attempts"].append(tries)
            yield pd.DataFrame(out)

    return rows.mapInPandas(run, RESULT_SCHEMA)
