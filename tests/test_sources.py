"""External COG-file ingestion tests (binaryFile source + analyze)."""

import os

import numpy as np
import pytest

from cloudtiff_spark import tiff
from cloudtiff_spark.sources import analyze_cog_directory, disect

RNG = np.random.default_rng(21)


class TestCogDirectory:
    def test_binaryfile_roundtrip(self, spark, tmp_path):
        specs = {}
        for i in range(4):
            w, h = int(RNG.choice([64, 128, 300])), int(RNG.choice([64, 96, 256]))
            img = RNG.integers(0, 256, (h, w, 3), dtype=np.uint8)
            data = tiff.encode_cog(img, 4326, float(i), 50.0, 1e-4)
            (tmp_path / f"scene_{i}.tif").write_bytes(data)
            specs[f"scene_{i}"] = (w, h)
        parsed = analyze_cog_directory(spark, str(tmp_path)).collect()
        by_img = {}
        for r in parsed:
            by_img.setdefault(r.image_id, []).append(r)
        assert set(by_img) == set(specs)
        for iid, rows in by_img.items():
            w, h = specs[iid]
            lv0 = next(r for r in rows if r.level == 0)
            assert (lv0.lw, lv0.lh) == (w, h)
            assert lv0.epsg == 4326

    def test_disect_dump(self):
        img = RNG.integers(0, 256, (96, 300, 3), dtype=np.uint8)
        out = disect(tiff.encode_cog(img, 32609, 500000.0, 5400000.0, 2.0))
        assert "classic endian=LE" in out
        assert "level 0 (full): 300x96 tiles 5x2@64" in out
        assert "projection epsg=32609" in out


class TestHeaderOnlyAnalyze:
    def test_header_analyze_matches_full_parse(self, spark, tmp_path):
        """Ranged header-only analyze recovers the identical metadata the
        full-bytes parse does, while reading a small fraction of the bytes
        (the S3 incremental-open semantics, cog/mod.rs:272-320)."""
        from cloudtiff_spark.sources import analyze_cog_headers

        total_bytes = 0
        for i in range(6):
            w, h = int(RNG.choice([256, 300, 512])), int(RNG.choice([256, 300, 512]))
            img = RNG.integers(0, 256, (h, w, 3), dtype=np.uint8)
            data = tiff.encode_cog(img, 4326, float(i), 50.0, 1e-4)
            (tmp_path / f"scene_{i}.tif").write_bytes(data)
            total_bytes += len(data)

        full = {
            (r.image_id, r.level): (r.lw, r.lh, r.n_tiles, r.compression, r.epsg,
                                    r.origin_x, r.origin_y, r.scale_px)
            for r in analyze_cog_directory(spark, str(tmp_path)).collect()
        }
        hdr_rows = analyze_cog_headers(spark, str(tmp_path)).collect()
        hdr = {
            (r.image_id, r.level): (r.lw, r.lh, r.n_tiles, r.compression, r.epsg,
                                    r.origin_x, r.origin_y, r.scale_px)
            for r in hdr_rows
        }
        assert hdr == full and len(hdr) > 6
        # bytes accounting: ranged open reads ~a header per file, not the
        # tile payload (ratio shrinks further as files grow toward GB scale)
        read = {r.image_id: r.bytes_read for r in hdr_rows}
        assert sum(read.values()) <= 0.05 * total_bytes
        for r in hdr_rows:
            assert r.bytes_read <= max(8192, r.file_bytes // 8)

    def test_truncation_retry_growth(self, tmp_path):
        """A tiny initial prefix forces the grow-and-reparse loop; the result
        must still be exact and bytes_read must stay bounded by doubling."""
        from cloudtiff_spark.sources import header_info
        from cloudtiff_spark.tiff import cog_info

        img = RNG.integers(0, 256, (300, 512, 3), dtype=np.uint8)
        data = tiff.encode_cog(img, 32609, 500000.0, 5400000.0, 2.0)
        p = tmp_path / "x.tif"
        p.write_bytes(data)
        info, nread = header_info(str(p), initial_bytes=64)
        want = cog_info(data)
        assert [l["width"] for l in info["levels"]] == [l["width"] for l in want["levels"]]
        assert info["projection"] == want["projection"]
        assert 64 < nread < len(data)

    def test_non_tiff_raises(self, tmp_path):
        from cloudtiff_spark.sources import header_info

        p = tmp_path / "bogus.tif"
        p.write_bytes(b"not a tiff at all" * 100)
        try:
            header_info(str(p))
            raised = False
        except ValueError as exc:
            raised = "byte-order" in str(exc)
        assert raised

    def test_transformed_geomodel_rejected(self, tmp_path):
        """ModelTransformation (tag 34264) parses but is rejected with the
        reference's typed error (projection/mod.rs:114-123 parity) — through
        the header-only path too."""
        import struct

        from cloudtiff_spark.sources import header_info

        img = RNG.integers(0, 256, (96, 128, 3), dtype=np.uint8)
        data = bytearray(tiff.encode_cog(img, 4326, 0.0, 50.0, 1e-4))
        # graft a ModelTransformation tag into IFD0 by rewriting the tag
        # count is messy; instead append a second ModelTiepoint-free variant:
        # simplest spec-true injection is to rename ModelPixelScale (33550)
        # to ModelTransformation (34264) — count/type stay legal (DOUBLE n=3)
        pos = struct.unpack_from("<I", data, 4)[0]
        (count,) = struct.unpack_from("<H", data, pos)
        for k in range(count):
            ep = pos + 2 + 12 * k
            code, dtype = struct.unpack_from("<HH", data, ep)
            if code == 33550:
                struct.pack_into("<H", data, ep, 34264)
        p = tmp_path / "transformed.tif"
        p.write_bytes(bytes(data))
        try:
            header_info(str(p))
            raised = False
        except ValueError as exc:
            raised = "Transformed" in str(exc)
        assert raised


class TestSparkSubmitJob:
    def test_spark_submit_py_files_end_to_end(self, tmp_path):
        """The real deployment path: package cloudtiff_spark as a zip, launch
        job.py via `spark-submit --py-files` in a FRESH driver process
        (local[4] stands in for the cluster master), then assert the job's
        committed output matches an independent in-process run."""
        import json
        import shutil
        import subprocess
        import zipfile

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pkg = os.path.join(repo, "cloudtiff_spark")
        zpath = tmp_path / "cloudtiff_spark.zip"
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _, files in os.walk(pkg):
                if "__pycache__" in root:
                    continue
                for f in files:
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, repo))
        submit = shutil.which("spark-submit")
        assert submit, "spark-submit not on PATH"
        from cloudtiff_spark.fixtures import ensure_fixtures

        fdir = ensure_fixtures("sf0.001")
        out = subprocess.run(
            [
                submit,
                "--master", "local[4]",
                "--py-files", str(zpath),
                os.path.join(repo, "job.py"),
                "--meta", os.path.join(fdir, "images_meta.parquet"),
                "--queries", os.path.join(fdir, "queries.parquet"),
                "--output", str(tmp_path / "out"),
                "--manifest", str(tmp_path / "manifest"),
                "--run-id", "submit-e2e",
                "--partitions", "4",
                "--shuffle-partitions", "8",
            ],
            capture_output=True,
            text=True,
            timeout=600,
            cwd=str(tmp_path),  # NOT the repo: package must come from the zip
        )
        assert out.returncode == 0, out.stderr[-2000:]
        summary = json.loads(out.stdout.strip().splitlines()[-1])
        assert summary["partitions_done"] == 4
        assert summary["rows_in"] == 100  # sf0.001 image count
        assert summary["joined_rows"] > 0

    def test_spark_submit_resume_skips_done(self, spark, tmp_path, sf_small):
        """Re-submitting the same run-id is a no-op resume (idempotent)."""
        # exercised in-process (fresh JVMs are slow): run, then re-run
        from cloudtiff_spark.lineage import checkpointed_pip_run

        meta = spark.read.parquet(os.path.join(sf_small, "images_meta.parquet"))
        queries = spark.read.parquet(os.path.join(sf_small, "queries.parquet"))
        man1 = checkpointed_pip_run(
            spark, meta, queries, str(tmp_path / "o"), str(tmp_path / "m"), "rr", n_partitions=4
        )
        first = {tuple(r) for r in spark.read.parquet(str(tmp_path / "o") + "/part=*").collect()}
        n_manifest_files = len(os.listdir(man1.dir))
        checkpointed_pip_run(
            spark, meta, queries, str(tmp_path / "o"), str(tmp_path / "m"), "rr", n_partitions=4
        )
        again = {tuple(r) for r in spark.read.parquet(str(tmp_path / "o") + "/part=*").collect()}
        assert again == first
        assert len(os.listdir(man1.dir)) == n_manifest_files  # nothing reprocessed


class TestHttpRangeSource:
    def test_http_ranged_analyze(self, spark, tmp_path):
        """S6: ranged HTTP reads against a real local HTTP server (a
        206-Partial-Content handler, the contract S3/CDNs provide) —
        metadata identical to the local parse, bytes fetched ~a header per
        file."""
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        sizes = {}
        blobs = {}
        for i in range(3):
            w, h = 300 + 50 * i, 256
            img = RNG.integers(0, 256, (h, w, 3), dtype=np.uint8)
            data = tiff.encode_cog(img, 4326, float(i), 50.0, 1e-4)
            (tmp_path / f"web_{i}.tif").write_bytes(data)
            sizes[f"web_{i}"] = len(data)
            blobs[f"/web_{i}.tif"] = data

        class RangeHandler(BaseHTTPRequestHandler):
            def do_GET(self):
                body = blobs.get(self.path)
                if body is None:
                    self.send_error(404)
                    return
                rng = self.headers.get("Range")
                if rng and rng.startswith("bytes="):
                    lo, hi = rng[6:].split("-")
                    lo = int(lo or 0)
                    hi = min(int(hi) if hi else len(body) - 1, len(body) - 1)
                    chunk = body[lo : hi + 1]
                    self.send_response(206)
                    self.send_header("Content-Range", f"bytes {lo}-{hi}/{len(body)}")
                else:
                    chunk = body
                    self.send_response(200)
                self.send_header("Content-Length", str(len(chunk)))
                self.end_headers()
                self.wfile.write(chunk)

            def log_message(self, *a):
                pass

        srv = ThreadingHTTPServer(("127.0.0.1", 0), RangeHandler)
        port = srv.server_address[1]
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()
        try:
            from cloudtiff_spark.sources import analyze_cog_headers, analyze_cog_urls

            urls = [f"http://127.0.0.1:{port}/web_{i}.tif" for i in range(3)]
            got = analyze_cog_urls(spark, urls).collect()
            want = {
                (r.image_id, r.level): (r.lw, r.lh, r.n_tiles, r.epsg)
                for r in analyze_cog_headers(spark, str(tmp_path), "web_*.tif").collect()
            }
            assert {
                (r.image_id, r.level): (r.lw, r.lh, r.n_tiles, r.epsg) for r in got
            } == want
            for r in got:
                assert r.bytes_read <= 8192 < sizes[r.image_id]  # ranged, not full
        finally:
            srv.shutdown()

    def test_sigv4_matches_aws_documented_vector(self):
        """The signer must reproduce the official AWS SigV4 example
        (docs.aws.amazon.com 'Create a signed AWS API request': ListUsers
        against iam.amazonaws.com at 20150830T123600Z with the well-known
        AKIDEXAMPLE credentials)."""
        from cloudtiff_spark.s3 import sign_request

        headers = sign_request(
            "GET",
            "iam.amazonaws.com",
            "/",
            "Action=ListUsers&Version=2010-05-08",
            {"content-type": "application/x-www-form-urlencoded; charset=utf-8"},
            access_key="AKIDEXAMPLE",
            secret_key="wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY",
            region="us-east-1",
            service="iam",
            amz_date="20150830T123600Z",
        )
        assert headers["Authorization"] == (
            "AWS4-HMAC-SHA256 Credential=AKIDEXAMPLE/20150830/us-east-1/iam/aws4_request, "
            "SignedHeaders=content-type;host;x-amz-date, "
            "Signature=5d672d79c15b13162d9279b0855cfba6789a8edb4c82c400e06b5924a6f2b5d7"
        )

    def test_s3_ranged_analyze_with_sigv4_verification(self, spark, tmp_path):
        """S7: ranged GetObject against a local S3-style server that
        INDEPENDENTLY re-derives the SigV4 signature from the wire request
        (method, path, received headers) with the shared secret and rejects
        any mismatch with 403 — plus the 206 Range contract. Metadata must
        match the local parse with only header-sized reads."""
        import hashlib
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        from cloudtiff_spark.s3 import sigv4_signature
        from cloudtiff_spark.sources import analyze_cog_headers, analyze_cog_s3

        ACCESS, SECRET, REGION, BUCKET = "AKIDTEST", "sekrit", "us-west-2", "tiles"
        sizes = {}
        blobs = {}
        for i in range(3):
            w, h = 280 + 40 * i, 200
            img = RNG.integers(0, 256, (h, w, 3), dtype=np.uint8)
            data = tiff.encode_cog(img, 4326, float(i), 40.0, 1e-4)
            (tmp_path / f"s3obj_{i}.tif").write_bytes(data)
            sizes[f"s3obj_{i}"] = len(data)
            blobs[f"/{BUCKET}/s3obj_{i}.tif"] = data

        class S3Handler(BaseHTTPRequestHandler):
            def _verify_sigv4(self) -> bool:
                auth = self.headers.get("Authorization", "")
                amz_date = self.headers.get("x-amz-date", "")
                payload_hash = self.headers.get("x-amz-content-sha256", "")
                if not auth.startswith("AWS4-HMAC-SHA256 ") or not amz_date:
                    return False
                parts = dict(
                    p.strip().split("=", 1) for p in auth[len("AWS4-HMAC-SHA256 ") :].split(",")
                )
                signed = parts["SignedHeaders"].split(";")
                # independent reconstruction of the canonical request from
                # what actually arrived on the wire
                canon_headers = "".join(
                    f"{h}:{' '.join((self.headers.get(h) or '').split())}\n" for h in signed
                )
                canonical = "\n".join(
                    ["GET", self.path, "", canon_headers, parts["SignedHeaders"], payload_hash]
                )
                sts = "\n".join(
                    [
                        "AWS4-HMAC-SHA256",
                        amz_date,
                        f"{amz_date[:8]}/{REGION}/s3/aws4_request",
                        hashlib.sha256(canonical.encode()).hexdigest(),
                    ]
                )
                want = sigv4_signature(SECRET, amz_date[:8], REGION, "s3", sts)
                return parts["Signature"] == want and parts["Credential"].startswith(
                    ACCESS + "/"
                )

            def do_GET(self):
                if not self._verify_sigv4():
                    self.send_error(403, "SignatureDoesNotMatch")
                    return
                body = blobs.get(self.path)
                if body is None:
                    self.send_error(404)
                    return
                rng = self.headers.get("Range")
                if not (rng and rng.startswith("bytes=")):
                    self.send_error(400, "range required by this test server")
                    return
                lo, hi = rng[6:].split("-")
                lo = int(lo or 0)
                hi = min(int(hi) if hi else len(body) - 1, len(body) - 1)
                chunk = body[lo : hi + 1]
                self.send_response(206)
                self.send_header("Content-Range", f"bytes {lo}-{hi}/{len(body)}")
                self.send_header("Content-Length", str(len(chunk)))
                self.end_headers()
                self.wfile.write(chunk)

            def log_message(self, *a):
                pass

        srv = ThreadingHTTPServer(("127.0.0.1", 0), S3Handler)
        port = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            got = analyze_cog_s3(
                spark,
                [f"s3obj_{i}.tif" for i in range(3)],
                endpoint=f"http://127.0.0.1:{port}",
                bucket=BUCKET,
                access_key=ACCESS,
                secret_key=SECRET,
                region=REGION,
            ).collect()
            want = {
                (r.image_id, r.level): (r.lw, r.lh, r.n_tiles, r.epsg)
                for r in analyze_cog_headers(spark, str(tmp_path), "s3obj_*.tif").collect()
            }
            assert {
                (r.image_id, r.level): (r.lw, r.lh, r.n_tiles, r.epsg) for r in got
            } == want and len(got) > 0
            for r in got:
                assert r.bytes_read <= 8192 < sizes[r.image_id]  # ranged, not full

            # a wrong secret must be rejected by the server (403 -> HTTPError)
            import urllib.error

            from cloudtiff_spark.s3 import S3RangeFetcher

            bad = S3RangeFetcher(
                f"http://127.0.0.1:{port}", BUCKET, ACCESS, "wrong-secret", REGION
            )
            try:
                bad.fetch("s3obj_0.tif", 0, 64)
                rejected = False
            except urllib.error.HTTPError as exc:
                rejected = exc.code == 403
            assert rejected
        finally:
            srv.shutdown()

    def test_http_range_ignored_raises(self, tmp_path):
        """A server that ignores Range (always 200 full body) must fail
        loudly instead of silently downloading whole files."""
        import threading
        from functools import partial
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        payload = b"II*\x00" + b"\x00" * 100

        class NoRange(BaseHTTPRequestHandler):
            def do_GET(self):
                self.send_response(200)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *a):
                pass

        srv = ThreadingHTTPServer(("127.0.0.1", 0), NoRange)
        port = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            from cloudtiff_spark.sources import header_info_http

            try:
                header_info_http(f"http://127.0.0.1:{port}/x.tif")
                raised = False
            except OSError as exc:
                raised = "ignored Range" in str(exc)
            assert raised
        finally:
            srv.shutdown()

    def test_stalled_endpoint_times_out_typed(self, monkeypatch):
        """A stalled endpoint must surface as the typed RangeFetchTimeout,
        not hang the executor task forever (the reference's SDK client has
        request timeouts; ADVICE r3)."""
        import socket
        import threading

        from cloudtiff_spark import s3 as s3mod
        from cloudtiff_spark.errors import RangeFetchTimeout

        # a listener that accepts connections and never responds
        lsock = socket.socket()
        lsock.bind(("127.0.0.1", 0))
        lsock.listen(1)
        port = lsock.getsockname()[1]
        held = []
        threading.Thread(
            target=lambda: held.append(lsock.accept()), daemon=True
        ).start()
        monkeypatch.setattr(s3mod, "FETCH_TIMEOUT_S", 0.5)
        try:
            from cloudtiff_spark.sources import header_info_http

            t0 = __import__("time").time()
            with pytest.raises(RangeFetchTimeout, match="timed out"):
                header_info_http(f"http://127.0.0.1:{port}/x.tif")
            assert __import__("time").time() - t0 < 10
        finally:
            lsock.close()


class TestOverviewsFirstHttp:
    def test_low_zoom_reads_touch_only_the_file_head(self, tmp_path):
        """The cloud-optimized layout end to end over HTTP: with
        overviews_first=True every overview tile lives before the first
        level-0 byte, so header_info_http + ONE ranged GET of the file
        head decodes ALL overview levels — the low-zoom access pattern a
        tile server runs against object storage."""
        import threading
        import urllib.request
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        img = RNG.integers(0, 256, (600, 520, 3), dtype=np.uint8)
        data = tiff.encode_cog(
            img, 4326, 0.0, 50.0, 1e-4, overviews_first=True
        )
        body = {"/ov.tif": data}

        class RangeHandler(BaseHTTPRequestHandler):
            def do_GET(self):
                b = body.get(self.path)
                if b is None:
                    self.send_error(404)
                    return
                rng = self.headers.get("Range")
                lo, hi = 0, len(b) - 1
                if rng and rng.startswith("bytes="):
                    lo_s, hi_s = rng[6:].split("-")
                    lo = int(lo_s or 0)
                    hi = min(int(hi_s) if hi_s else hi, hi)
                chunk = b[lo : hi + 1]
                self.send_response(206 if rng else 200)
                if rng:
                    self.send_header(
                        "Content-Range", f"bytes {lo}-{hi}/{len(b)}"
                    )
                self.send_header("Content-Length", str(len(chunk)))
                self.end_headers()
                self.wfile.write(chunk)

            def log_message(self, *a):
                pass

        srv = ThreadingHTTPServer(("127.0.0.1", 0), RangeHandler)
        port = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            from cloudtiff_spark.sources import header_info_http

            url = f"http://127.0.0.1:{port}/ov.tif"
            info, hdr_bytes = header_info_http(url)
            lv0_start = min(o for o in info["levels"][0]["offsets"] if o)
            # the overview region is a small fraction of the file
            assert lv0_start < 0.45 * len(data)
            req = urllib.request.Request(
                url, headers={"Range": f"bytes=0-{lv0_start - 1}"}
            )
            with urllib.request.urlopen(req) as resp:
                head = resp.read()
            assert len(head) == lv0_start
            base = tiff.cog_info(data)
            for lv in range(1, len(info["levels"])):
                lev = info["levels"][lv]
                for ti in range(len(lev["offsets"])):
                    assert np.array_equal(
                        tiff.decode_tile(head, info, lv, ti),
                        tiff.decode_tile(data, base, lv, ti),
                    )
        finally:
            srv.shutdown()


class TestDefinitiveRejectsDontRefetch:
    """Review r5: typed semantic rejects (CloudTiffError) are definitive
    from the first window — the grow-and-reparse loops must raise
    immediately instead of doubling the ranged fetch to the whole object
    (2x object bytes over the network for a multi-GB non-COG)."""

    class CountingFetcher:
        def __init__(self, body: bytes):
            self.body = body
            self.calls = 0

        def fetch(self, key, start, length):
            self.calls += 1
            return self.body[start : start + length]

    def test_non_tiff_one_fetch(self):
        from cloudtiff_spark.errors import NotATiff
        from cloudtiff_spark.sources import header_info_s3

        f = self.CountingFetcher(b"PK\x03\x04" + b"z" * 1_000_000)  # a zip, 1 MB
        import pytest as _pytest

        with _pytest.raises(NotATiff):
            header_info_s3(f, "k", initial_bytes=4096)
        assert f.calls == 1  # no window growth for a definitive reject

    def test_truncation_still_grows(self):
        import numpy as np

        from cloudtiff_spark import tiff
        from cloudtiff_spark.sources import header_info_s3

        img = np.arange(96 * 96 * 3, dtype=np.uint8).reshape(96, 96, 3) % 255
        data = tiff.encode_cog(img, 4326, 0.0, 50.0, 1e-4)
        f = self.CountingFetcher(data)
        info, nread = header_info_s3(f, "k", initial_bytes=64)
        assert f.calls > 1 and len(info["levels"]) >= 1

    def test_no_levels_is_definitive(self):
        from cloudtiff_spark.errors import NoLevels
        from cloudtiff_spark.sources import header_info_s3

        # a valid classic header with an empty IFD chain: II*\0 + offset 8
        # -> IFD with 0 tags, next=0 (complete chain, zero tiled levels)
        import struct as _struct

        body = b"II*\x00" + _struct.pack("<I", 8) + _struct.pack("<H", 0) + _struct.pack("<I", 0)
        f = self.CountingFetcher(body + b"\x00" * 100_000)
        import pytest as _pytest

        with _pytest.raises(NoLevels):
            header_info_s3(f, "k", initial_bytes=4096)
        assert f.calls == 1


class TestTransportParity:
    class MemoryFetcher:
        def __init__(self, body: bytes):
            self.body = body

        def fetch(self, key, start, length):
            return self.body[start : start + length]

    @pytest.mark.parametrize("initial_bytes", [64, 4096])
    def test_file_and_s3_open_agree(self, tmp_path, initial_bytes):
        """One ranged open behind every transport: a local file and an
        in-memory S3 fetcher over the same bytes return the same info and
        the same bytes_read."""
        from cloudtiff_spark.sources import header_info, header_info_s3

        img = RNG.integers(0, 256, (300, 512, 3), dtype=np.uint8)
        data = tiff.encode_cog(img, 32609, 500000.0, 5400000.0, 2.0)
        p = tmp_path / "x.tif"
        p.write_bytes(data)
        file_info, file_read = header_info(str(p), initial_bytes)
        s3_info, s3_read = header_info_s3(self.MemoryFetcher(data), "x.tif", initial_bytes)
        assert file_info == s3_info
        assert file_read == s3_read
        assert file_info == tiff.cog_info(data)


class TestEmptySourceList:
    def test_empty_remote_lists_give_empty_relation(self, spark):
        """An empty URL or key list is an empty HEADER_SCHEMA relation, not
        a zero-partition repartition error."""
        from cloudtiff_spark.sources import HEADER_SCHEMA, analyze_cog_s3, analyze_cog_urls

        want = spark.createDataFrame([], HEADER_SCHEMA).schema
        for df in (
            analyze_cog_urls(spark, []),
            analyze_cog_s3(spark, [], "http://localhost:9", "bucket", "key", "secret"),
        ):
            assert df.schema == want
            assert df.count() == 0
