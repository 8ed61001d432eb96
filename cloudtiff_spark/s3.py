"""S3 ranged-GetObject client — from the public AWS SigV4 spec, stdlib only.

Parity target: the reference's S3Reader (src/io/s3.rs:29-92) issues
GetObject with a Range header per read. This module provides the same
capability without an SDK (none exists in this container): a minimal
Signature-Version-4 signer (public spec:
https://docs.aws.amazon.com/IAM/latest/UserGuide/create-signed-request.html)
plus ranged_get, the one Range GET that both this client and the HTTP
header-analyze path (sources.header_info_http) issue; the client is
injectable into sources.header_info_s3 / analyze_cog_s3.

The signer is pinned against the AWS-documented SigV4 test vector in
tests/test_sources.py, and the ranged fetch is exercised end-to-end against
a local 206-Partial-Content server that REQUIRES SigV4-shaped auth headers
(the S3 contract), so S7 is tested in-sandbox without real S3.
"""

from __future__ import annotations

import datetime
import hashlib
import hmac
import os
import urllib.request
from urllib.parse import quote

from .errors import RangeFetchTimeout

_EMPTY_SHA256 = hashlib.sha256(b"").hexdigest()

#: per-request socket deadline for ranged GETs; a stalled endpoint must
#: surface as a typed error, not a hung executor task
FETCH_TIMEOUT_S = float(os.environ.get("CLOUDTIFF_FETCH_TIMEOUT_S", "30"))


def timed_urlopen(req, url: str):
    """urlopen with the module deadline; maps both bare socket timeouts and
    URLError-wrapped connect timeouts to the typed RangeFetchTimeout."""
    import urllib.error

    try:
        return urllib.request.urlopen(req, timeout=FETCH_TIMEOUT_S)
    except TimeoutError as exc:
        raise RangeFetchTimeout(url, FETCH_TIMEOUT_S) from exc
    except urllib.error.URLError as exc:
        if isinstance(getattr(exc, "reason", None), TimeoutError):
            raise RangeFetchTimeout(url, FETCH_TIMEOUT_S) from exc
        raise


def timed_read(resp, url: str) -> bytes:
    """resp.read() with the typed-timeout mapping: the socket deadline set
    at urlopen also governs body reads, but a MID-BODY stall surfaces as a
    bare TimeoutError ('the read operation timed out') — map it to the
    same RangeFetchTimeout the connect path raises."""
    try:
        return resp.read()
    except TimeoutError as exc:
        raise RangeFetchTimeout(url, FETCH_TIMEOUT_S) from exc


def ranged_get(url: str, headers: dict[str, str], name: str) -> bytes:
    """One Range GET under the module deadline. A full-body 200 means the
    server ignored Range; at COG scale that silently downloads everything,
    so fail loudly instead."""
    req = urllib.request.Request(url, headers=headers)
    with timed_urlopen(req, url) as resp:
        if resp.status == 200:
            raise OSError(f"server ignored Range for {name} (status 200)")
        return timed_read(resp, url)


def _hmac(key: bytes, msg: str) -> bytes:
    return hmac.new(key, msg.encode(), hashlib.sha256).digest()


def sigv4_signature(
    secret_key: str,
    date_stamp: str,
    region: str,
    service: str,
    string_to_sign: str,
) -> str:
    """The SigV4 key-derivation chain + final HMAC (public spec)."""
    k = _hmac(("AWS4" + secret_key).encode(), date_stamp)
    k = _hmac(k, region)
    k = _hmac(k, service)
    k = _hmac(k, "aws4_request")
    return hmac.new(k, string_to_sign.encode(), hashlib.sha256).hexdigest()


def sign_request(
    method: str,
    host: str,
    path: str,
    query: str,
    headers: dict[str, str],
    access_key: str,
    secret_key: str,
    region: str,
    service: str = "s3",
    amz_date: str | None = None,
    payload_hash: str = _EMPTY_SHA256,
) -> dict[str, str]:
    """Return ``headers`` + Host/x-amz-date/x-amz-content-sha256/
    Authorization for a SigV4-signed request. ``path`` must already be
    URI-encoded per the S3 variant (each segment, '/' preserved)."""
    if amz_date is None:
        amz_date = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%SZ")
    date_stamp = amz_date[:8]
    all_headers = dict(headers)
    all_headers["host"] = host
    all_headers["x-amz-date"] = amz_date
    if service == "s3":
        all_headers["x-amz-content-sha256"] = payload_hash
    items = sorted((k.lower(), " ".join(v.split())) for k, v in all_headers.items())
    canonical_headers = "".join(f"{k}:{v}\n" for k, v in items)
    signed_headers = ";".join(k for k, _ in items)
    canonical_request = "\n".join(
        [method, path, query, canonical_headers, signed_headers, payload_hash]
    )
    scope = f"{date_stamp}/{region}/{service}/aws4_request"
    string_to_sign = "\n".join(
        [
            "AWS4-HMAC-SHA256",
            amz_date,
            scope,
            hashlib.sha256(canonical_request.encode()).hexdigest(),
        ]
    )
    sig = sigv4_signature(secret_key, date_stamp, region, service, string_to_sign)
    all_headers["Authorization"] = (
        f"AWS4-HMAC-SHA256 Credential={access_key}/{scope}, "
        f"SignedHeaders={signed_headers}, Signature={sig}"
    )
    return all_headers


class S3RangeFetcher:
    """Ranged GetObject over plain HTTP(S) with SigV4 auth — the io/s3.rs
    read_range_async analog. ``endpoint`` may be a real S3 endpoint
    (https://s3.<region>.amazonaws.com) or any S3-compatible server (the
    tests run a local one); requests are path-style GET
    ``<endpoint>/<bucket>/<key>`` with ``Range: bytes=a-b``."""

    def __init__(
        self,
        endpoint: str,
        bucket: str,
        access_key: str,
        secret_key: str,
        region: str = "us-east-1",
    ) -> None:
        self.endpoint = endpoint.rstrip("/")
        self.bucket = bucket
        self.access_key = access_key
        self.secret_key = secret_key
        self.region = region

    def fetch(self, key: str, start: int, length: int) -> bytes:
        """GetObject bytes [start, start+length) — S3 clamps past-EOF ends,
        exactly like io/s3.rs:54-92's Range math."""
        path = "/" + quote(self.bucket, safe="") + "/" + quote(key, safe="/")
        host = self.endpoint.split("://", 1)[1]
        headers = sign_request(
            "GET",
            host,
            path,
            "",
            {"range": f"bytes={start}-{start + length - 1}"},
            self.access_key,
            self.secret_key,
            self.region,
        )
        return ranged_get(self.endpoint + path, headers, f"s3://{self.bucket}/{key}")
