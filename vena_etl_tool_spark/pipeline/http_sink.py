"""Retrying HTTP batch sink.

Reference parity: `fetchWithRetry` — non-2xx throws, sleep backoff, recurse
with retries-1 and backoff*2; defaults 3 attempts / 300 ms
(/root/reference/src/api/templates.js:19-41, defaults src/config.js:10-11);
the upload POST itself at templates.js:140-160.

Spark-first shape: the POST happens *per partition on the executors*
(``foreachPartition``), so a 100 TB export is N_partitions independent,
retrying uploads — not one driver-RAM buffer like the reference. Batches
carry an idempotency key (partition id + attempt-stable content hash) so
at-least-once retries are safe to dedup server-side.

The transport is injectable: the default uses urllib, tests inject a fake
(this container has no network egress).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame

DEFAULT_RETRIES = 3  # config.js:10
DEFAULT_BACKOFF_S = 0.3  # config.js:11 (300 ms)

Transport = Callable[[str, bytes, dict], int]  # (url, body, headers) -> http status


def basic_auth_headers(username: str, password: str) -> dict:
    """Basic-auth request headers (reference A4:
    /root/reference/src/auth/index.js:11-26 — `Basic base64(user:pass)`
    plus the JSON accept header). Credentials must be present — fail fast
    like the reference's config validation (src/config.js:28-34)."""
    import base64

    if not username or not password:
        raise ValueError("username and password are required for basic auth")
    token = base64.b64encode(f"{username}:{password}".encode()).decode("ascii")
    return {"accept": "application/json", "authorization": f"Basic {token}"}


def _default_transport(url: str, body: bytes, headers: dict) -> int:
    import urllib.request

    req = urllib.request.Request(url, data=body, headers=headers, method="POST")
    with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
        return resp.status


def post_with_retry(
    url: str,
    body: bytes,
    headers: dict,
    transport: Transport = _default_transport,
    retries: int = DEFAULT_RETRIES,
    backoff_s: float = DEFAULT_BACKOFF_S,
    sleep: Callable[[float], None] = time.sleep,
) -> int:
    """Exponential-backoff retry loop: attempt, sleep b, b*2, b*4 …
    (templates.js:19-41; doubling at :39). Raises after the final attempt."""
    attempt = 0
    while True:
        try:
            status = transport(url, body, headers)
            if status < 200 or status >= 300:
                raise IOError(f"HTTP error {status}")
            return status
        except Exception:
            if attempt >= retries:
                raise
            sleep(backoff_s * (2**attempt))
            attempt += 1


def encode_multipart(
    payload: bytes,
    filename: str,
    field: str = "file",
    content_type: str = "text/csv",
    boundary: str | None = None,
) -> tuple[bytes, str]:
    """Encode ONE file as a multipart/form-data body, the reference's
    upload wire format (/root/reference/src/api/templates.js:140-144:
    `form.append('file', csvContent, {filename, contentType: 'text/csv'})`).
    Returns ``(body, content_type_header)`` where the header carries the
    boundary. The boundary is derived deterministically from the payload
    hash (no RNG — reproducible bodies make idempotent retries and tests
    exact), with a guard against the astronomically-unlikely collision."""
    import hashlib

    if boundary is None:
        boundary = "----sparkform" + hashlib.sha256(payload).hexdigest()[:24]
    if boundary.encode("ascii") in payload:
        boundary = boundary + "x"
    head = (
        f"--{boundary}\r\n"
        f'Content-Disposition: form-data; name="{field}"; filename="{filename}"\r\n'
        f"Content-Type: {content_type}\r\n\r\n"
    ).encode("ascii")
    tail = f"\r\n--{boundary}--\r\n".encode("ascii")
    return head + payload + tail, f"multipart/form-data; boundary={boundary}"


def upload_file_multipart(
    url: str,
    payload: bytes,
    filename: str,
    headers: dict,
    transport: Transport = _default_transport,
    retries: int = DEFAULT_RETRIES,
    backoff_s: float = DEFAULT_BACKOFF_S,
    sleep: Callable[[float], None] = time.sleep,
) -> int:
    """Single-file multipart upload with the reference's retry loop
    (templates.js:133-163: build FormData → POST → fetchWithRetry). Used
    by the CLI upload path when an HTTP endpoint is configured; the bulk
    DataFrame sink stays ``write_http`` (per-partition, executor-side)."""
    body, ctype = encode_multipart(payload, filename)
    return post_with_retry(
        url,
        body,
        {**headers, "content-type": ctype},
        transport=transport,
        retries=retries,
        backoff_s=backoff_s,
        sleep=sleep,
    )


@dataclass
class HttpSinkConfig:
    url: str
    headers: dict | None = None
    batch_size: int = 500
    retries: int = DEFAULT_RETRIES
    backoff_s: float = DEFAULT_BACKOFF_S


def write_http(df: DataFrame, cfg: HttpSinkConfig, transport: Transport | None = None) -> None:
    """POST each partition as JSONL batches with ``post_with_retry``.
    Executor-side; the driver never sees the data. The package is shipped
    to the workers first (``session._ship_package``), so the executor
    closure can call this module's retry loop and default transport."""
    from ..session import _ship_package

    _ship_package(df.sparkSession)
    url, headers = cfg.url, dict(cfg.headers or {"content-type": "application/jsonl"})
    batch_size, retries, backoff = cfg.batch_size, cfg.retries, cfg.backoff_s
    tp = transport or _default_transport

    def send_partition(rows) -> None:
        import hashlib

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        batch: list[str] = []

        def flush() -> None:
            if not batch:
                return
            body = "\n".join(batch).encode("utf-8")
            idem = hashlib.sha256(body).hexdigest()[:16]
            hdrs = {**headers, "idempotency-key": f"p{pid}-{idem}"}
            post_with_retry(url, body, hdrs, tp, retries, backoff)
            batch.clear()

        for row in rows:
            batch.append(json.dumps(row.asDict(), default=str))
            if len(batch) >= batch_size:
                flush()
        flush()

    df.foreachPartition(send_partition)
