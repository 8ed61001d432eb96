"""Codec parity tests (SURVEY.md §5.2 item 1-2).

Gates from BASELINE.json input_hint: bit-exact for deflate/lzw/png,
PSNR >= 40 dB for the lossy 'jpeg' stand-in.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cloudtiff_spark import codecs


def _img(rng, h, w):
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


RNG = np.random.default_rng(7)


class TestLZW:
    def test_roundtrip_random(self):
        for n in [0, 1, 7, 256, 5000, 70000]:
            data = RNG.integers(0, 256, size=n, dtype=np.uint8).tobytes()
            assert codecs.lzw_decode(codecs.lzw_encode(data)) == data

    def test_roundtrip_repetitive(self):
        data = b"abcabcabcabc" * 4000  # forces table resets past 4094 codes
        assert codecs.lzw_decode(codecs.lzw_encode(data)) == data

    def test_compresses_repetitive(self):
        data = b"\x00" * 10000
        assert len(codecs.lzw_encode(data)) < 400

    @given(st.binary(min_size=0, max_size=2000))
    @settings(max_examples=50, deadline=None)
    def test_roundtrip_property(self, data):
        assert codecs.lzw_decode(codecs.lzw_encode(data)) == data

    def test_end_of_stream_early_change(self):
        # regression: streams whose FINAL data code lands the decoder table
        # exactly on a width boundary (2^w - 2) must widen before EOI.
        # fixtures.gen_image(4403) produced such a stream (24578 != 24576).
        from cloudtiff_spark import fixtures

        row = fixtures.gen_image(4403)
        assert row["fmt"] == "lzw_raw"

    def test_known_vector(self):
        # Hand-computed: encode of b"\x07\x07\x07" (TIFF style):
        # CLEAR(256)@9b, 7@9b, 258(="\x07\x07")@9b, EOI(257)@9b
        enc = codecs.lzw_encode(b"\x07\x07\x07")
        bits = "".join(f"{b:08b}" for b in enc)
        codes = [int(bits[i : i + 9], 2) for i in range(0, 36, 9)]
        assert codes == [256, 7, 258, 257]


class TestPNG:
    def test_roundtrip(self):
        img = _img(RNG, 33, 70)
        assert np.array_equal(codecs.decode_png(codecs.encode_png(img)), img)

    def test_decoder_handles_filters(self):
        # build a PNG with filter-2 (Up) rows by hand and check decode
        import struct
        import zlib

        img = _img(RNG, 8, 8)
        rows = []
        prev = np.zeros(8 * 3, np.int16)
        for y in range(8):
            line = img[y].reshape(-1).astype(np.int16)
            rows.append(bytes([2]) + ((line - prev) & 0xFF).astype(np.uint8).tobytes())
            prev = line
        ihdr = struct.pack(">IIBBBBB", 8, 8, 8, 2, 0, 0, 0)
        png = (
            codecs._PNG_SIG
            + codecs._chunk(b"IHDR", ihdr)
            + codecs._chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + codecs._chunk(b"IEND", b"")
        )
        assert np.array_equal(codecs.decode_png(png), img)


class TestRealJpeg:
    """Baseline JFIF codec (cloudtiff_spark.jpeg) — from the public ITU-T
    T.81 spec; the reference delegates real formats to the image crate
    (raster/image.rs:44-205)."""

    def test_psnr_gate_all_shapes(self):
        from cloudtiff_spark.jpeg import decode_jpeg, encode_jpeg

        for h, w in [(8, 8), (64, 64), (130, 97), (1, 1), (9, 17), (511, 63)]:
            img = _img(RNG, w, h)
            out = decode_jpeg(encode_jpeg(img, codecs.JPEG_QUALITY))
            assert out.shape == img.shape
            assert codecs.psnr(img, out) >= 40.0, (h, w)

    def test_worst_case_noise_psnr(self):
        # pure uniform noise maximizes AC symbol density — the hardest
        # content for DCT coding; q98 must still clear the gate
        from cloudtiff_spark.jpeg import decode_jpeg, encode_jpeg

        img = RNG.integers(0, 256, (96, 80, 3), dtype=np.uint8)
        assert codecs.psnr(img, decode_jpeg(encode_jpeg(img, 98))) >= 40.0

    def test_gray_roundtrip(self):
        from cloudtiff_spark.jpeg import decode_jpeg, encode_jpeg

        g = RNG.integers(0, 256, (33, 41), dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(g, 98))
        assert out.shape == (33, 41, 3)
        assert codecs.psnr(np.repeat(g[:, :, None], 3, axis=2), out) >= 40.0

    def test_deterministic(self):
        img = _img(RNG, 20, 12)
        assert codecs.encode_image(img, "jpeg") == codecs.encode_image(img, "jpeg")

    def test_decode_image_dispatches_on_magic(self):
        img = _img(RNG, 16, 16)
        real = codecs.encode_image(img, "jpeg")
        assert real[:2] == b"\xff\xd8"  # SOI — real JFIF bytes now
        out = codecs.decode_image(real, "jpeg", 16, 16)
        assert codecs.psnr(img, out) >= 40.0

    def test_markers_parse_structurally(self):
        # the stream must be a well-formed marker sequence: SOI APP0 DQT..
        # SOF0 DHT.. SOS .. EOI
        img = _img(RNG, 24, 16)
        data = codecs.encode_image(img, "jpeg")
        assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
        import struct as _s

        pos = 2
        seen = []
        while pos < len(data) - 2:
            assert data[pos] == 0xFF
            m = data[pos + 1]
            seen.append(m)
            if m == 0xDA:
                break
            (ln,) = _s.unpack_from(">H", data, pos + 2)
            pos += 2 + ln
        assert 0xE0 in seen and 0xDB in seen and 0xC0 in seen and 0xC4 in seen

    def test_typed_error_on_corrupt(self):
        from cloudtiff_spark.jpeg import JpegError, decode_jpeg

        import pytest

        with pytest.raises(JpegError):
            decode_jpeg(b"\x00\x01\x02\x03")
        img = _img(RNG, 16, 16)
        data = bytearray(codecs.encode_image(img, "jpeg"))
        data[3] = 0xC2  # SOF2 progressive — unsupported, must raise typed
        # (byte 3 is inside APP0 length; instead flip the SOF0 marker)
        data = bytearray(codecs.encode_image(img, "jpeg"))
        i = data.find(b"\xff\xc0")
        data[i + 1] = 0xC2
        with pytest.raises(JpegError):
            decode_jpeg(bytes(data))

    def test_vectorized_entropy_coder_matches_per_block_writer(self):
        """The vectorized token-stream + prefix-sum bit packer must produce
        the BYTE-IDENTICAL entropy segment the straightforward per-block
        _JBitWriter/_encode_block path produces."""
        from cloudtiff_spark import jpeg as J

        rng = np.random.default_rng(5)
        for h, w in [(8, 8), (64, 64), (96, 49)]:
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            # recompute the quantized blocks exactly like encode_jpeg
            qt_l = J._scaled_qt(J._QT_LUMA, 98)
            qt_c = J._scaled_qt(J._QT_CHROMA, 98)
            h8, w8 = (h + 7) // 8 * 8, (w + 7) // 8 * 8
            ycc = J._rgb_to_ycbcr(img)
            quantized = []
            for ci in range(3):
                p = np.pad(ycc[..., ci], ((0, h8 - h), (0, w8 - w)), mode="edge") - 128.0
                blocks = J._to_blocks(p)
                coefs = np.einsum("ij,bjk,kl->bil", J._C, blocks, J._C.T)
                qt = (qt_l if ci == 0 else qt_c).reshape(8, 8).astype(np.float64)
                q = np.round(coefs / qt).astype(np.int32)
                quantized.append(q.reshape(-1, 64)[:, J._ZIGZAG])
            # reference: per-block writer
            wr = J._JBitWriter()
            preds = [0, 0, 0]
            for b in range(quantized[0].shape[0]):
                for ci in range(3):
                    dc = J._ENC_DC_L if ci == 0 else J._ENC_DC_C
                    ac = J._ENC_AC_L if ci == 0 else J._ENC_AC_C
                    preds[ci] = J._encode_block(wr, quantized[ci][b], preds[ci], dc, ac)
            want = wr.flush()
            # vectorized: same machinery encode_jpeg uses
            keys, vals, bits = [], [], []
            for ci in range(3):
                dc_c, dc_l = (J._DCL_C, J._DCL_L) if ci == 0 else (J._DCC_C, J._DCC_L)
                ac_c, ac_l = (J._ACL_C, J._ACL_L) if ci == 0 else (J._ACC_C, J._ACC_L)
                k, v, nb = J._component_tokens(quantized[ci], ci, 3, dc_c, dc_l, ac_c, ac_l)
                keys.append(k)
                vals.append(v)
                bits.append(nb)
            order = np.argsort(np.concatenate(keys), kind="stable")
            got = J._pack_bits(np.concatenate(vals)[order], np.concatenate(bits)[order])
            assert got == want, (h, w)

    def test_restart_interval_stream_decodes_exactly(self):
        """DRI/RSTn: hand-build a gray JPEG with DRI=1 (a restart marker
        between every MCU). The reader must drop ONLY the byte-alignment
        pad bits at each restart — zeroing the prefetched window corrupts
        every MCU after the first (the r3 review's confirmed repro)."""
        import struct as _s

        from cloudtiff_spark import jpeg as J

        rng = np.random.default_rng(17)
        img = rng.integers(0, 256, (8, 32)).astype(np.float64)  # 4 MCUs
        qt = np.ones(64, dtype=np.int32)
        blocks = J._to_blocks(img - 128.0)
        coefs = np.einsum("ij,bjk,kl->bil", J._C, blocks, J._C.T)
        q = np.round(coefs).astype(np.int32).reshape(-1, 64)[:, J._ZIGZAG]

        out = bytearray(b"\xff\xd8")
        out += b"\xff\xdb" + _s.pack(">H", 67) + b"\x00" + bytes(qt[J._ZIGZAG].tolist())
        sof = _s.pack(">BHHB", 8, 8, 32, 1) + bytes([1, 0x11, 0])
        out += b"\xff\xc0" + _s.pack(">H", len(sof) + 2) + sof
        out += J._dht_segment(0, 0, J._DC_LUMA_BITS, J._DC_LUMA_VALS)
        out += J._dht_segment(1, 0, J._AC_LUMA_BITS, J._AC_LUMA_VALS)
        out += b"\xff\xdd" + _s.pack(">HH", 4, 1)  # DRI = 1 MCU
        sos = bytes([1, 1, 0x00]) + b"\x00\x3f\x00"
        out += b"\xff\xda" + _s.pack(">H", len(sos) + 2) + sos
        # each restart segment: own writer (byte-aligned flush), DC pred 0
        segs = []
        for b in range(q.shape[0]):
            w = J._JBitWriter()
            J._encode_block(w, q[b], 0, J._ENC_DC_L, J._ENC_AC_L)
            segs.append(w.flush())
        for i, s in enumerate(segs):
            out += s
            if i + 1 < len(segs):
                out += bytes([0xFF, 0xD0 + (i % 8)])
        out += b"\xff\xd9"
        dec = J.decode_jpeg(bytes(out))
        # quant table is all-ones => near-lossless: EVERY MCU must match
        err = np.abs(dec[:, :, 0].astype(float) - img)
        assert err.max() <= 1.0, err.max()

    def test_multi_scan_rejected_typed(self):
        from cloudtiff_spark.jpeg import JpegError, decode_jpeg

        import pytest
        import struct as _s
        from cloudtiff_spark import jpeg as J

        out = bytearray(b"\xff\xd8")
        out += b"\xff\xdb" + _s.pack(">H", 67) + b"\x00" + bytes(range(1, 65))
        sof = _s.pack(">BHHB", 8, 8, 8, 3)
        sof += bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0])
        out += b"\xff\xc0" + _s.pack(">H", len(sof) + 2) + sof
        out += J._dht_segment(0, 0, J._DC_LUMA_BITS, J._DC_LUMA_VALS)
        out += J._dht_segment(1, 0, J._AC_LUMA_BITS, J._AC_LUMA_VALS)
        sos = bytes([1, 1, 0x00]) + b"\x00\x3f\x00"  # only Y of 3 comps
        out += b"\xff\xda" + _s.pack(">H", len(sos) + 2) + sos
        with pytest.raises(JpegError, match="multi-scan"):
            decode_jpeg(bytes(out))

    def test_quality_monotone(self):
        from cloudtiff_spark.jpeg import decode_jpeg, encode_jpeg

        img = _img(RNG, 64, 48)
        p = [codecs.psnr(img, decode_jpeg(encode_jpeg(img, q))) for q in (50, 75, 90, 98)]
        assert p == sorted(p)

    def test_decoder_accepts_subsampled_streams(self):
        # hand-build a 4:2:0 stream (our encoder is 4:4:4-only): encode a
        # 16x16 via the module's own block pipeline with h=v=2 for Y
        from cloudtiff_spark import jpeg as J

        rng = np.random.default_rng(7)
        y = rng.integers(100, 156, (16, 16)).astype(np.float64)
        cb = np.full((8, 8), 128.0)
        cr = np.full((8, 8), 128.0)
        qt = np.ones(64, dtype=np.int32)

        def quant_blocks(plane):
            blocks = J._to_blocks(plane - 128.0)
            coefs = np.einsum("ij,bjk,kl->bil", J._C, blocks, J._C.T)
            return np.round(coefs).astype(np.int32).reshape(-1, 64)[:, J._ZIGZAG]

        qy, qcb, qcr = quant_blocks(y), quant_blocks(cb), quant_blocks(cr)
        out = bytearray()
        out += b"\xff\xd8"
        out += b"\xff\xdb" + __import__("struct").pack(">H", 67) + b"\x00"
        out += bytes(qt[J._ZIGZAG].tolist())
        sof = __import__("struct").pack(">BHHB", 8, 16, 16, 3)
        sof += bytes([1, 0x22, 0]) + bytes([2, 0x11, 0]) + bytes([3, 0x11, 0])
        out += b"\xff\xc0" + __import__("struct").pack(">H", len(sof) + 2) + sof
        out += J._dht_segment(0, 0, J._DC_LUMA_BITS, J._DC_LUMA_VALS)
        out += J._dht_segment(1, 0, J._AC_LUMA_BITS, J._AC_LUMA_VALS)
        sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00]) + b"\x00\x3f\x00"
        out += b"\xff\xda" + __import__("struct").pack(">H", len(sos) + 2) + sos
        w = J._JBitWriter()
        preds = [0, 0, 0]
        order = [(0, qy), (1, qcb), (2, qcr)]
        for ci, q in order:
            for b in range(q.shape[0]):
                preds[ci] = J._encode_block(w, q[b], preds[ci], J._ENC_DC_L, J._ENC_AC_L)
        out += w.flush() + b"\xff\xd9"
        dec = J.decode_jpeg(bytes(out))
        assert dec.shape == (16, 16, 3)
        # chroma is neutral => output approximates the gray Y plane
        err = np.abs(dec[:, :, 1].astype(float) - y)
        assert err.mean() < 3.0


class TestProgressiveJpeg:
    """SOF2 progressive decode (T.81 §G: spectral selection + successive
    approximation). Oracle: encode_jpeg_progressive carries the IDENTICAL
    quantized coefficients as the baseline encoder, so the progressive
    decode must match the baseline decode bit-for-bit — any error in DC/AC
    first passes, EOBRUN, ZRL skips, or the refinement correction-bit walk
    breaks the equality."""

    def _pair(self, arr, quality):
        from cloudtiff_spark.jpeg import decode_jpeg, encode_jpeg, encode_jpeg_progressive

        return (
            decode_jpeg(encode_jpeg(arr, quality)),
            decode_jpeg(encode_jpeg_progressive(arr, quality)),
        )

    def test_rgb_exact_vs_baseline(self):
        for h, w, q in [(70, 90, 90), (64, 64, 95), (17, 9, 75), (8, 8, 50)]:
            img = _img(RNG, w, h)
            base, prog = self._pair(img, q)
            assert np.array_equal(base, prog), (h, w, q)

    def test_noise_exact_vs_baseline(self):
        # uniform noise: dense AC symbols, long ZRL runs, heavy refinement
        img = RNG.integers(0, 256, (64, 64, 3), dtype=np.uint8)
        base, prog = self._pair(img, 95)
        assert np.array_equal(base, prog)

    def test_gray_exact_vs_baseline(self):
        g = RNG.integers(0, 256, (33, 41), dtype=np.uint8)
        base, prog = self._pair(g, 85)
        assert np.array_equal(base, prog)

    def test_low_quality_sparse_coefficients(self):
        # q=10 makes most AC bands all-zero: exercises pure-EOB blocks and
        # DC-only reconstruction
        img = _img(RNG, 48, 40)
        base, prog = self._pair(img, 10)
        assert np.array_equal(base, prog)

    def test_psnr_gate(self):
        from cloudtiff_spark import codecs
        from cloudtiff_spark.jpeg import decode_jpeg, encode_jpeg_progressive

        img = _img(RNG, 97, 130)
        out = decode_jpeg(encode_jpeg_progressive(img, codecs.JPEG_QUALITY))
        assert codecs.psnr(img, out) >= 40.0

    def test_progressive_420_subsampled(self):
        """4:2:0 progressive (the common web-JPEG shape; our test encoder
        is 4:4:4-only): hand-build baseline and progressive streams over
        the SAME quantized coefficients for a single-MCU 16x16 image
        (4 Y blocks + 1 Cb + 1 Cr) and assert bit-identical decode —
        exercises multi-block interleaved DC scans and the non-interleaved
        per-component AC grid indexing."""
        import struct

        from cloudtiff_spark import jpeg as J

        rng = np.random.default_rng(77)
        y = rng.integers(30, 220, (16, 16)).astype(np.float64)
        cb = rng.integers(100, 156, (8, 8)).astype(np.float64)
        cr = rng.integers(100, 156, (8, 8)).astype(np.float64)
        qt = np.ones(64, dtype=np.int32)

        def quant(plane):
            blocks = J._to_blocks(plane - 128.0)
            coefs = np.einsum("ij,bjk,kl->bil", J._C, blocks, J._C.T)
            return np.round(coefs).astype(np.int32).reshape(-1, 64)[:, J._ZIGZAG]

        qplanes = [quant(y), quant(cb), quant(cr)]  # 4, 1, 1 blocks
        dc_codes = J._build_codes(J._DC_LUMA_BITS, J._DC_LUMA_VALS)
        ac_codes = J._build_codes(J._AC_LUMA_BITS, J._AC_LUMA_VALS)

        def headers(sof_marker):
            out = bytearray(b"\xff\xd8")
            out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00"
            out += bytes(qt[J._ZIGZAG].tolist())
            sof = struct.pack(">BHHB", 8, 16, 16, 3)
            sof += bytes([1, 0x22, 0]) + bytes([2, 0x11, 0]) + bytes([3, 0x11, 0])
            out += sof_marker + struct.pack(">H", len(sof) + 2) + sof
            out += J._dht_segment(0, 0, J._DC_LUMA_BITS, J._DC_LUMA_VALS)
            out += J._dht_segment(1, 0, J._AC_LUMA_BITS, J._AC_LUMA_VALS)
            return out

        # ---- baseline stream (one interleaved scan) ----
        base = headers(b"\xff\xc0")
        sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00]) + b"\x00\x3f\x00"
        base += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
        w = J._JBitWriter()
        preds = [0, 0, 0]
        for ci, q in [(0, qplanes[0]), (1, qplanes[1]), (2, qplanes[2])]:
            for b in range(q.shape[0]):
                preds[ci] = J._encode_block(w, q[b], preds[ci], dc_codes, ac_codes)
        base += w.flush() + b"\xff\xd9"

        # ---- progressive stream (§G scan script, Al=1) ----
        AL = 1
        prog = headers(b"\xff\xc2")

        def sos_hdr(comp_ids, ss, se, ah, al):
            seg = bytes([len(comp_ids)])
            for cid in comp_ids:
                seg += bytes([cid, 0x00])
            seg += bytes([ss, se, (ah << 4) | al])
            return b"\xff\xda" + struct.pack(">H", len(seg) + 2) + seg

        def put_mag(wtr, v, size):
            wtr.write(v if v >= 0 else v + (1 << size) - 1, size)

        # scan 1: DC first, interleaved — MCU order: Y0..Y3, Cb, Cr
        prog += sos_hdr([1, 2, 3], 0, 0, 0, AL)
        w = J._JBitWriter()
        preds = [0, 0, 0]
        for ci, b in [(0, 0), (0, 1), (0, 2), (0, 3), (1, 0), (2, 0)]:
            v = int(qplanes[ci][b, 0]) >> AL
            diff = v - preds[ci]
            preds[ci] = v
            size = J._bit_size(abs(diff))
            code, ln = dc_codes[size]
            w.write(code, ln)
            if size:
                put_mag(w, diff, size)
        prog += w.flush()
        # scan 2: DC refine
        prog += sos_hdr([1, 2, 3], 0, 0, AL, 0)
        w = J._JBitWriter()
        for ci, b in [(0, 0), (0, 1), (0, 2), (0, 3), (1, 0), (2, 0)]:
            w.write(int(qplanes[ci][b, 0]) & 1, 1)
        prog += w.flush()
        # per-component AC first (Al=1) then AC refine — non-interleaved,
        # component block grid order (raster; Y grid is 2x2)
        for ci, cid in [(0, 1), (1, 2), (2, 3)]:
            prog += sos_hdr([cid], 1, 63, 0, AL)
            w = J._JBitWriter()
            for b in range(qplanes[ci].shape[0]):
                zz = qplanes[ci][b]
                shifted = [
                    (int(v) >> AL if v >= 0 else -((-int(v)) >> AL)) for v in zz[1:]
                ]
                nzp = [i + 1 for i, v in enumerate(shifted) if v != 0]
                prev = 0
                for k in nzp:
                    run = k - prev - 1
                    prev = k
                    while run > 15:
                        c_, l_ = ac_codes[0xF0]
                        w.write(c_, l_)
                        run -= 16
                    v = shifted[k - 1]
                    size = J._bit_size(abs(v))
                    c_, l_ = ac_codes[(run << 4) | size]
                    w.write(c_, l_)
                    put_mag(w, v, size)
                if prev != 63:
                    c_, l_ = ac_codes[0x00]
                    w.write(c_, l_)
            prog += w.flush()
        for ci, cid in [(0, 1), (1, 2), (2, 3)]:
            prog += sos_hdr([cid], 1, 63, AL, 0)
            w = J._JBitWriter()
            for b in range(qplanes[ci].shape[0]):
                zz = qplanes[ci][b]
                temps = [abs(int(v)) for v in zz[1:]]
                signs = [int(v) > 0 for v in zz[1:]]
                hist = [t >> AL for t in temps]
                newly = [i for i, (t, hh) in enumerate(zip(temps, hist)) if t and hh == 0]
                eob_pos = newly[-1] if newly else -1
                r = 0
                buffered = []
                for i, t in enumerate(temps):
                    if t == 0:
                        r += 1
                        continue
                    while r > 15 and i <= eob_pos:
                        c_, l_ = ac_codes[0xF0]
                        w.write(c_, l_)
                        r -= 16
                        for bit in buffered:
                            w.write(bit, 1)
                        buffered = []
                    if hist[i] != 0:
                        buffered.append(t & 1)
                        continue
                    c_, l_ = ac_codes[(r << 4) | 1]
                    w.write(c_, l_)
                    w.write(1 if signs[i] else 0, 1)
                    for bit in buffered:
                        w.write(bit, 1)
                    buffered = []
                    r = 0
                if r > 0 or buffered:
                    c_, l_ = ac_codes[0x00]
                    w.write(c_, l_)
                    for bit in buffered:
                        w.write(bit, 1)
            prog += w.flush()
        prog += b"\xff\xd9"

        dec_base = J.decode_jpeg(bytes(base))
        dec_prog = J.decode_jpeg(bytes(prog))
        assert dec_base.shape == (16, 16, 3)
        assert np.array_equal(dec_base, dec_prog)


class TestPredictor:
    def test_roundtrip_matches_cumsum(self):
        img = _img(RNG, 5, 9)
        enc = codecs.predictor2_encode(img)
        assert np.array_equal(codecs.predictor2_decode(enc), img)

    def test_wrapping(self):
        # wrapping_add semantics (compression.rs:313-325)
        row = np.array([[[250], [10], [10]]], dtype=np.uint8)  # 250,+10->4,+10->14
        dec = codecs.predictor2_decode(row)
        assert dec.reshape(-1).tolist() == [250, 4, 14]


class TestUnified:
    @pytest.mark.parametrize("fmt", ["deflate_raw", "lzw_raw", "png"])
    def test_lossless_bit_exact(self, fmt):
        img = _img(RNG, 96, 64)
        data = codecs.encode_image(img, fmt)
        assert np.array_equal(codecs.decode_image(data, fmt, 64, 96), img)

    @pytest.mark.parametrize("fmt", ["png", "jpeg"])
    def test_self_describing_formats_shape_checked(self, fmt):
        """png/jpeg carry their own dims; a payload that does not match the
        row's (w, h) must raise like deflate/lzw do, not come back at its
        own size (or, at an equal pixel count, silently reshaped)."""
        small = codecs.encode_image(_img(RNG, 32, 32), fmt)
        with pytest.raises(ValueError, match="buffer size"):
            codecs.decode_image(small, fmt, 64, 64)
        tall = codecs.encode_image(_img(RNG, 64, 32), fmt)
        with pytest.raises(ValueError, match="buffer size"):
            codecs.decode_image(tall, fmt, 64, 32)
        assert codecs.decode_image(tall, fmt, 32, 64).shape == (64, 32, 3)

    def test_unsupported_fmt_raises(self):
        with pytest.raises(ValueError, match="CompressionNotSupported"):
            codecs.encode_image(np.zeros((2, 2, 3), np.uint8), "webp")


class TestPngFilterDecoding:
    """The decoder must invert all five PNG filters; rows are crafted with a
    straightforward per-byte reference filterer, then decoded vectorized."""

    def _encode_with_filters(self, img, filters):
        import struct
        import zlib

        from cloudtiff_spark.codecs import _PNG_SIG, _chunk

        h, w, _ = img.shape
        prev = np.zeros(w * 3, dtype=np.int32)
        raw = bytearray()
        for y in range(h):
            line = img[y].reshape(-1).astype(np.int32)
            f = filters[y % len(filters)]
            raw.append(f)
            for x in range(w * 3):
                a = int(line[x - 3]) if x >= 3 else 0
                b = int(prev[x])
                c = int(prev[x - 3]) if x >= 3 else 0
                if f == 0:
                    v = line[x]
                elif f == 1:
                    v = line[x] - a
                elif f == 2:
                    v = line[x] - b
                elif f == 3:
                    v = line[x] - ((a + b) >> 1)
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    v = line[x] - pr
                raw.append(v & 0xFF)
            prev = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            _PNG_SIG
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + _chunk(b"IEND", b"")
        )

    def test_all_filters_bit_exact(self):
        from cloudtiff_spark.codecs import decode_png

        rng = np.random.default_rng(31)
        img = rng.integers(0, 256, (40, 37, 3), dtype=np.uint8)
        for filters in ([1], [3], [4], [0, 1, 2, 3, 4]):
            data = self._encode_with_filters(img, filters)
            assert np.array_equal(decode_png(data), img), filters

    def test_filter_speed_is_not_per_byte(self):
        """A filter-1 image decodes via one cumsum per row — decoding a
        512x512 Sub-filtered PNG must be fast (was a per-byte Python loop)."""
        import time

        from cloudtiff_spark.codecs import decode_png

        rng = np.random.default_rng(32)
        img = rng.integers(0, 256, (512, 512, 3), dtype=np.uint8)
        data = self._encode_with_filters(img, [1])
        t0 = time.time()
        out = decode_png(data)
        dt = time.time() - t0
        assert np.array_equal(out, img)
        assert dt < 1.0, f"filter-1 decode took {dt:.2f}s"


class TestCatmullRom:
    """resample_catmullrom — the reference's ResizeFilter::CatmulRod path
    (ops.rs:129-146, image::imageops::CatmullRom semantics)."""

    def test_identity_dims_bit_exact(self):
        from cloudtiff_spark.operators.tiling import resample_catmullrom

        rng = np.random.default_rng(41)
        img = rng.integers(0, 256, (33, 47, 3), dtype=np.uint8)
        assert np.array_equal(resample_catmullrom(img, 47, 33), img)

    def test_upsample_linear_ramp_stays_linear(self):
        from cloudtiff_spark.operators.tiling import resample_catmullrom

        # Catmull-Rom is an interpolating cubic: exact on linear signals
        ramp = np.tile(np.linspace(0, 25000, 40, dtype=np.uint16)[None, :], (8, 1))
        up = resample_catmullrom(ramp, 80, 8).astype(np.float64)
        interior = up[:, 4:-4]
        dx = np.diff(interior, axis=1)
        assert np.all(np.abs(dx - dx.mean()) <= 1.0)  # constant slope +-rounding

    def test_downsample_antialiases_vs_nearest(self):
        from cloudtiff_spark.operators.tiling import (
            resample_catmullrom,
            resample_nearest,
        )

        # 1px black/white columns at 4x downsample: nearest keeps full
        # contrast (aliasing); scaled-support catmull averages toward gray
        img = np.zeros((32, 64, 3), dtype=np.uint8)
        img[:, ::2] = 255
        cr = resample_catmullrom(img, 16, 8).astype(np.float64)
        nn = resample_nearest(img, 16, 8).astype(np.float64)
        # nearest samples only the white columns (mean 255, pure aliasing);
        # scaled-support catmull preserves the true mean (~127.5)
        assert abs(nn.mean() - img.mean()) > 100.0
        assert abs(cr.mean() - img.mean()) < 8.0

    def test_all_pixel_formats(self):
        from cloudtiff_spark.operators.tiling import resample_catmullrom

        rng = np.random.default_rng(42)
        for shape, dtype in [((20, 30), np.uint8), ((20, 30), np.uint16),
                             ((20, 30, 3), np.uint8), ((20, 30, 4), np.uint8)]:
            img = rng.integers(0, np.iinfo(dtype).max + 1, shape, dtype=dtype)
            out = resample_catmullrom(img, 17, 11)
            assert out.dtype == dtype
            assert out.shape == ((11, 17) if len(shape) == 2 else (11, 17, shape[2]))


class TestCorruptEntropySegment:
    """A scan that ends early (corrupt or cut entropy-coded segment) is a
    typed JpegError, not the IndexError of the refill reading past the
    zero padding."""

    def test_stomped_tile_payload_raises_jpeg_error(self):
        """4 bytes 00FF00FF in the middle of each level-0 tile payload of a
        JPEG COG (the stomp of tools/mutation_probe.stomp_tile): the FF00
        destuffs and the next FF ends the scan early."""
        from cloudtiff_spark import tiff
        from cloudtiff_spark.jpeg import JpegError

        img = np.random.default_rng(7).integers(0, 256, size=(300, 260, 3), dtype=np.uint8)
        data = tiff.encode_cog(img, 4326, 10.0, 50.0, 1e-4, compression=tiff.COMPRESSION_JPEG)
        info = tiff.cog_info(data)
        lev = info["levels"][0]
        assert len(lev["offsets"]) > 1
        for ti, (off, cnt) in enumerate(zip(lev["offsets"], lev["byte_counts"])):
            stomped = bytearray(data)
            pos = off + cnt // 2
            stomped[pos : pos + 4] = b"\x00\xff\x00\xff"
            with pytest.raises(JpegError):
                tiff.decode_tile(bytes(stomped), info, 0, ti)

    @pytest.mark.parametrize("progressive", [False, True])
    def test_cut_scan_raises_jpeg_error(self, progressive):
        from cloudtiff_spark.jpeg import (
            JpegError,
            decode_jpeg,
            encode_jpeg,
            encode_jpeg_progressive,
        )

        img = np.random.default_rng(7).integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
        full = (encode_jpeg_progressive if progressive else encode_jpeg)(img)
        with pytest.raises(JpegError, match="entropy-coded segment ends"):
            decode_jpeg(full[: int(len(full) * 0.3)] + b"\xff\xd9")


class TestReviewHardening:
    """Round-4 self-review fixes: untyped-exception paths and edge modes."""

    def test_single_component_frame_ignores_sampling_factors(self):
        # T.81 A.2: Ns=1 scans are non-interleaved; a gray SOF declaring
        # 2x2 sampling must decode identically to the same stream at 1x1
        import struct

        from cloudtiff_spark import jpeg as J

        rng = np.random.default_rng(7)
        g = rng.integers(0, 256, (24, 24)).astype(np.uint8)
        b = bytearray(J.encode_jpeg(g, 95))
        i = b.find(b"\xff\xc0")
        # SOF0: marker(2) len(2) prec(1) h(2) w(2) nc(1) [cid hv tq]
        b[i + 11] = 0x22  # the component's h|v nibble byte
        assert np.array_equal(J.decode_jpeg(bytes(b)), J.decode_jpeg(J.encode_jpeg(g, 95)))

    def test_progressive_typed_errors_on_hostile_streams(self):
        from cloudtiff_spark import jpeg as J

        rng = np.random.default_rng(8)
        img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
        data = bytearray(J.encode_jpeg_progressive(img, 90))
        # (a) SOS naming a component id absent from SOF -> typed, not
        # StopIteration
        i = data.find(b"\xff\xda")
        bad = bytearray(data)
        bad[i + 5] = 9  # first scan-component id
        with pytest.raises(J.JpegError, match="not in SOF"):
            J.decode_jpeg(bytes(bad))
        # (b) refinement scan with its AC table id pointing at an
        # undefined table -> typed, not TypeError. Find the LAST SOS
        # (an AC refinement scan, single component) and point ta at 3.
        j = data.rfind(b"\xff\xda")
        bad = bytearray(data)
        bad[j + 6] = 0x03  # td<<4|ta -> ta=3 (undefined)
        with pytest.raises(J.JpegError, match="missing AC Huffman"):
            J.decode_jpeg(bytes(bad))

    def test_catmullrom_float_raster(self):
        from cloudtiff_spark.operators.tiling import resample_catmullrom

        rng = np.random.default_rng(9)
        f = rng.random((40, 40), dtype=np.float32)
        out = resample_catmullrom(f, 20, 20)
        assert out.dtype == np.float32 and out.shape == (20, 20)
        # interpolating kernel: a constant field stays constant
        const = np.full((32, 32), 0.625, dtype=np.float32)
        assert np.allclose(resample_catmullrom(const, 16, 16), 0.625, atol=1e-6)
