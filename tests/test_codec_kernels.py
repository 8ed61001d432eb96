"""The render path's per-tile kernels against the forms they replaced.

Each kernel here was rewritten for speed with outputs meant to stay
byte-identical: the JPEG decoder's IDCT (matmul, was a 3-operand einsum)
and its AC fast-path table (``_fast_ac``), ``codecs.lzw_decode``
(two-byte refills, was byte-at-a-time) and ``render._gather`` (np.take,
was np.ix_ / fancy indexing). The old forms are kept below as references.
The JPEG encoder's FDCT deliberately stays on einsum; its output bytes are
pinned by hash.
"""

from __future__ import annotations

import glob
import hashlib
import os
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cloudtiff_spark import codecs
from cloudtiff_spark import jpeg as J

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _content(rng: np.random.Generator, h: int, w: int, noise: int) -> np.ndarray:
    """Corner-colour gradient plus seeded noise (the fixture look)."""
    corners = rng.integers(0, 256, size=(2, 2, 3)).astype(np.float64)
    yy = np.linspace(0, 1, h)[:, None, None]
    xx = np.linspace(0, 1, w)[None, :, None]
    base = (
        corners[0, 0] * (1 - yy) * (1 - xx)
        + corners[0, 1] * (1 - yy) * xx
        + corners[1, 0] * yy * (1 - xx)
        + corners[1, 1] * yy * xx
    )
    return np.clip(base + rng.integers(-noise, noise + 1, (h, w, 3)), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# JPEG IDCT
# ---------------------------------------------------------------------------


def _idct_einsum(blocks: np.ndarray) -> np.ndarray:
    """The IDCT both decode paths ran before _idct: _decode_scan on
    (nblocks, 8, 8), _prog_reconstruct on (rows, cols, 8, 8)."""
    if blocks.ndim == 3:
        return np.einsum("ij,bjk,kl->bil", J._C.T, blocks, J._C) + 128.0
    return np.einsum("ij,rcjk,kl->rcil", J._C.T, blocks, J._C) + 128.0


def _hand_baseline(img: np.ndarray, quality: int, sub420: bool = False, dri: int = 0) -> bytes:
    """Baseline JFIF from the module's per-block coder, for the layouts
    encode_jpeg does not write: 4:2:0 (2x2 luma blocks per MCU, chroma
    averaged over 2x2) and a restart marker every ``dri`` MCUs. Image dims
    must be multiples of 16."""
    h, w = img.shape[:2]
    qts = [J._scaled_qt(J._QT_LUMA, quality), J._scaled_qt(J._QT_CHROMA, quality)]
    ycc = J._rgb_to_ycbcr(img)
    planes = [ycc[..., i] for i in range(3)]
    if sub420:
        planes[1:] = [p.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3)) for p in planes[1:]]
    samp = [2 if sub420 and ci == 0 else 1 for ci in range(3)]

    def quant(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
        ph, pw = plane.shape
        coefs = np.einsum("ij,bjk,kl->bil", J._C, J._to_blocks(plane - 128.0), J._C.T)
        q = np.round(coefs / qt.reshape(8, 8)).astype(np.int32).reshape(-1, 64)[:, J._ZIGZAG]
        return q.reshape(ph // 8, pw // 8, 64)

    qs = [quant(p, qts[min(ci, 1)]) for ci, p in enumerate(planes)]
    mcuy, mcux = qs[1].shape[:2]

    out = bytearray(b"\xff\xd8")
    for tq, qt in enumerate(qts):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + bytes(qt[J._ZIGZAG].tolist())
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for ci in range(3):
        sof += bytes([ci + 1, samp[ci] * 0x11, min(ci, 1)])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += J._dht_segment(0, 0, J._DC_LUMA_BITS, J._DC_LUMA_VALS)
    out += J._dht_segment(1, 0, J._AC_LUMA_BITS, J._AC_LUMA_VALS)
    out += J._dht_segment(0, 1, J._DC_CHROMA_BITS, J._DC_CHROMA_VALS)
    out += J._dht_segment(1, 1, J._AC_CHROMA_BITS, J._AC_CHROMA_VALS)
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    tables = [(J._ENC_DC_L, J._ENC_AC_L), (J._ENC_DC_C, J._ENC_AC_C)]
    wr, preds = J._JBitWriter(), [0, 0, 0]
    for m in range(mcuy * mcux):
        if dri and m and m % dri == 0:
            out += wr.flush() + bytes([0xFF, 0xD0 + (m // dri - 1) % 8])
            wr, preds = J._JBitWriter(), [0, 0, 0]
        my, mx = divmod(m, mcux)
        for ci in range(3):
            s = samp[ci]
            for dy in range(s):
                for dx in range(s):
                    blk = qs[ci][my * s + dy, mx * s + dx]
                    preds[ci] = J._encode_block(wr, blk, preds[ci], *tables[min(ci, 1)])
    out += wr.flush() + b"\xff\xd9"
    return bytes(out)


def _seeded_streams() -> list[tuple[str, bytes]]:
    rng = np.random.default_rng(1709)
    streams = []
    for q in (50, 75, 98):
        for noise in (4, 16, 128):
            rgb = _content(rng, 37 + noise % 7, 53 + noise % 5, noise)
            gray = rgb[..., 1]
            even = _content(rng, 32, 48, noise)
            streams += [
                (f"444-q{q}-n{noise}", J.encode_jpeg(rgb, q)),
                (f"gray-q{q}-n{noise}", J.encode_jpeg(gray, q)),
                (f"420-q{q}-n{noise}", _hand_baseline(even, q, sub420=True)),
                (f"dri-q{q}-n{noise}", _hand_baseline(even, q, dri=2)),
                (f"420-dri-q{q}-n{noise}", _hand_baseline(even, q, sub420=True, dri=1)),
                (f"prog-q{q}-n{noise}", J.encode_jpeg_progressive(rgb, q)),
                (f"prog-gray-q{q}-n{noise}", J.encode_jpeg_progressive(gray, q)),
            ]
    return streams


def _reference_decoder(mp: pytest.MonkeyPatch) -> None:
    """The decoder as it was: einsum IDCT, every AC symbol through the
    general path (magnitude bits extracted and sign-extended per symbol)."""
    mp.setattr(J, "_idct", _idct_einsum)
    mp.setattr(J, "_fast_ac", lambda alut: J._NO_FAST_AC)


def _decode_both(data: bytes, decode=J.decode_jpeg) -> tuple[np.ndarray, np.ndarray]:
    got = decode(data)
    with pytest.MonkeyPatch.context() as mp:
        _reference_decoder(mp)
        want = decode(data)
    return got, want


class TestJpegDecode:
    def test_idct_matches_einsum_on_blocks(self):
        rng = np.random.default_rng(3)
        for shape in [(1, 8, 8), (37, 8, 8), (3, 5, 8, 8)]:
            blocks = rng.integers(-1024, 1024, shape).astype(np.float64)
            assert np.allclose(J._idct(blocks), _idct_einsum(blocks), rtol=0, atol=1e-9)

    @pytest.mark.parametrize("data", [pytest.param(d, id=name) for name, d in _seeded_streams()])
    def test_seeded_streams_byte_identical_to_reference(self, data):
        got, want = _decode_both(data)
        assert got.tobytes() == want.tobytes()

    def test_fast_ac_entries_match_general_decode(self):
        for bits, vals in ((J._AC_LUMA_BITS, J._AC_LUMA_VALS), (J._AC_CHROMA_BITS, J._AC_CHROMA_VALS)):
            alut = J._build_lut(bits, vals)
            fast = J._fast_ac(alut)
            assert J._fast_ac(alut) is fast  # memoized
            n = 0
            for peek, f in enumerate(fast):
                e = alut[peek]
                ln, rs = e & 31, e >> 5
                size = rs & 0xF
                if f is None:
                    assert ln == 0 or size == 0 or ln + size > 16
                    continue
                mag = (peek >> (16 - ln - size)) & ((1 << size) - 1)
                v = mag if mag >= (1 << (size - 1)) else mag - (1 << size) + 1
                assert f == (ln + size, rs >> 4, v), peek
                n += 1
            assert n > 40000
        # a table outside _LUT_CACHE (a one-off past its bound) gets no fast path
        assert J._fast_ac(list(alut)) is J._NO_FAST_AC

    def test_ac_run_past_block_end_raises_on_both_paths(self):
        """32 (run 1, size 1) symbols, 5 bits each, walk k to 64: a corrupt
        block. The fast path checks the run like the general path does."""
        wr = J._JBitWriter()
        wr.write(*J._ENC_DC_L[0])  # DC diff 0
        for _ in range(32):
            wr.write(*J._ENC_AC_L[0x11])
            wr.write(1, 1)
        sof = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
        sos = bytes([1, 1, 0x00]) + b"\x00\x3f\x00"
        data = (
            b"\xff\xd8\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
            + b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
            + J._dht_segment(0, 0, J._DC_LUMA_BITS, J._DC_LUMA_VALS)
            + J._dht_segment(1, 0, J._AC_LUMA_BITS, J._AC_LUMA_VALS)
            + b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
            + wr.flush() + b"\xff\xd9"
        )
        with pytest.raises(J.JpegError, match="AC run past block end"):
            J.decode_jpeg(data)
        with pytest.MonkeyPatch.context() as mp, pytest.raises(J.JpegError, match="AC run past block end"):
            _reference_decoder(mp)
            J.decode_jpeg(data)

    def test_hand_built_layouts_decode(self):
        """The 4:2:0 / restart streams above are well formed: they decode
        close to their source image."""
        img = _content(np.random.default_rng(5), 32, 48, 4)
        for kw in ({"sub420": True}, {"dri": 2}, {"sub420": True, "dri": 1}):
            out = J.decode_jpeg(_hand_baseline(img, 98, **kw))
            assert codecs.psnr(img, out) >= 30.0, kw

    def test_fixture_payloads_byte_identical_to_reference(self):
        """Every JPEG payload of the generated fixtures present on disk:
        image rows, progressive payloads and JPEG COG tiles."""
        import pyarrow.parquet as pq

        from cloudtiff_spark import tiff

        fx = os.path.join(ROOT, "fixtures")
        n = 0
        for path in sorted(glob.glob(os.path.join(fx, "*", "images.parquet"))):
            t = pq.read_table(path, columns=["bytes", "fmt"]).to_pydict()
            for data, fmt in zip(t["bytes"], t["fmt"]):
                if fmt == "jpeg":
                    got, want = _decode_both(data)
                    assert got.tobytes() == want.tobytes(), path
                    n += 1
        for path in sorted(glob.glob(os.path.join(fx, "*", "prog", "payloads.parquet"))):
            for data in pq.read_table(path, columns=["bytes"])["bytes"].to_pylist():
                got, want = _decode_both(data)
                assert got.tobytes() == want.tobytes(), path
                n += 1
        for path in sorted(glob.glob(os.path.join(fx, "*", "cogs_jpeg", "cogs.parquet"))):
            for cog in pq.read_table(path, columns=["cog"])["cog"].to_pylist():
                info = tiff.cog_info(cog)
                for lv, lev in enumerate(info["levels"]):
                    for ti in range(len(lev["offsets"])):
                        got, want = _decode_both(cog, lambda d: tiff.decode_tile(d, info, lv, ti))
                        assert got.tobytes() == want.tobytes(), (path, lv, ti)
                        n += 1
        if not n:
            pytest.skip("no generated fixtures on disk")


def _dc_tie_image() -> np.ndarray:
    """RGB gray ramp of flat 8x8 blocks (values 0..254) with some pixels
    raised by one, so each block's DC lands on a rounding tie: 32 of 64
    raised (left half) ties DC / 8, the luma DC step at q75; 4 of 64
    (right half) ties DC / 1, the step at q98. The einsum and matmul
    FDCTs round these ties to different sides."""
    v = np.minimum(np.arange(256), 254).reshape(16, 16)
    base = np.kron(v, np.ones((8, 8), dtype=np.int64))
    raised = np.zeros((2, 64), dtype=np.int64)
    raised[0, :32] = 1
    raised[1, :4] = 1
    bumps = np.concatenate(
        [np.tile(raised[0].reshape(8, 8), (16, 8)), np.tile(raised[1].reshape(8, 8), (16, 8))], axis=1
    )
    g = (base + bumps).astype(np.uint8)
    return np.repeat(g[:, :, None], 3, axis=2)


class TestEncoderBytesPinned:
    """The FDCT stays on einsum: fixture bytes, phash and the
    expected_*.parquet oracles all hash encoder output. A matmul FDCT
    changes all four digests below (the image sits on DC rounding ties);
    a change to them means every fixture must be regenerated."""

    PINS = {
        ("baseline", 75): "e4be4eccaed5315de9aaa06ebb6882c8c445ed1d4455a160271c8e6fcc1d895d",
        ("baseline", 98): "e85a43e183d9ce36a0adec8009c0692d566ba15a039a553217a8a2a846b2eadd",
        ("progressive", 75): "ca3c7202f75636c8bef2c619607f2db0039b62a56851cd47128cfb82f8c45678",
        ("progressive", 98): "4b54cebf143893941b37c822cac9b52e4b25fc1f6ba290c2742530af6c94f163",
    }

    @pytest.mark.parametrize("mode,quality", sorted(PINS))
    def test_sha256(self, mode, quality):
        enc = J.encode_jpeg if mode == "baseline" else J.encode_jpeg_progressive
        assert hashlib.sha256(enc(_dc_tie_image(), quality)).hexdigest() == self.PINS[(mode, quality)]


# ---------------------------------------------------------------------------
# LZW
# ---------------------------------------------------------------------------


def _lzw_decode_bytewise(data: bytes) -> bytes:
    """lzw_decode as it was before two-byte refills: one byte per refill,
    the width mask recomputed per code, output in one growing bytearray.
    Raises IndexError on an undefined first code (the defect the current
    decoder reports as ValueError)."""
    out = bytearray()
    table: list[bytes] = []
    width = 9
    acc = 0
    nbits = 0
    prev: bytes | None = None
    pos = 0
    n = len(data)

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    while pos < n or nbits >= width:
        while nbits < width and pos < n:
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        if nbits < width:
            break
        nbits -= width
        code = (acc >> nbits) & ((1 << width) - 1)
        acc &= (1 << nbits) - 1
        if code == codecs._EOI:
            break
        if code == codecs._CLEAR:
            reset()
            continue
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"corrupt LZW stream: code {code} > table {len(table)}")
        out += entry
        prev = entry
        if len(table) == (1 << width) - 2 and width < 12:
            width += 1
    return bytes(out)


def _pack9(codes: list[int]) -> bytes:
    """Codes at a fixed 9-bit width, MSB first (enough for short streams)."""
    bits = "".join(f"{c:09b}" for c in codes)
    bits += "0" * (-len(bits) % 8)
    return bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))


class _NoEOIWriter(codecs._BitWriter):
    """The encoder's bit writer minus the EOI code (no table entry is ever
    numbered 257, so only the trailing EOI is dropped)."""

    def write(self, code: int, width: int) -> None:
        if code != codecs._EOI:
            super().write(code, width)


def _encode_without_eoi(data: bytes) -> bytes:
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(codecs, "_BitWriter", _NoEOIWriter)
        return codecs.lzw_encode(data)


def _outcome(fn, data: bytes):
    try:
        return ("ok", fn(data))
    except (ValueError, IndexError) as exc:
        return (type(exc).__name__, str(exc))


def _assert_same_as_bytewise(stream: bytes) -> None:
    got, want = _outcome(codecs.lzw_decode, stream), _outcome(_lzw_decode_bytewise, stream)
    if want[0] == "IndexError":  # undefined first code: now a typed error
        assert got[0] == "ValueError" and got[1].startswith("corrupt LZW stream: "), got
    else:
        assert got == want


_lzw_payload = st.one_of(
    st.binary(max_size=3000),
    # long repetitive runs walk the table through every width to a CLEAR
    st.builds(lambda unit, k: unit * k, st.binary(min_size=1, max_size=6), st.integers(1, 2000)),
)


class TestLzwReference:
    @given(_lzw_payload, st.integers(1, 8))
    @settings(max_examples=150, deadline=None)
    def test_encoder_output_and_its_cut_forms(self, data, cut):
        enc = codecs.lzw_encode(data)
        assert codecs.lzw_decode(enc) == data
        for stream in (enc, _encode_without_eoi(data), enc[:-cut]):
            _assert_same_as_bytewise(stream)

    @given(_lzw_payload, st.data())
    @settings(max_examples=150, deadline=None)
    def test_stomped_streams(self, data, draw):
        """One byte overwritten: later codes fall past the table and raise
        the same ValueError, message included, as the reference."""
        enc = bytearray(codecs.lzw_encode(data))
        i = draw.draw(st.integers(0, len(enc) - 1))
        enc[i] = draw.draw(st.integers(0, 255))
        _assert_same_as_bytewise(bytes(enc))

    @given(st.binary(max_size=400))
    @settings(max_examples=150, deadline=None)
    def test_arbitrary_bytes(self, stream):
        _assert_same_as_bytewise(stream)

    def test_every_width_step_and_clear(self):
        data = np.random.default_rng(9).integers(0, 4, 60000, dtype=np.uint8).tobytes()
        enc = codecs.lzw_encode(data)
        assert codecs.lzw_decode(enc) == _lzw_decode_bytewise(enc) == data

    @pytest.mark.parametrize("codes", [[256, 300, 257], [300, 257], [256, 258], [65, 256, 511]])
    def test_undefined_first_code_raises_value_error(self, codes):
        """An undefined first code (after CLEAR, or of the stream) raises
        the same ValueError as a later out-of-range code, so cog_tiles
        quarantines both as one decode-failed type."""
        with pytest.raises(ValueError, match="corrupt LZW stream"):
            codecs.lzw_decode(_pack9(codes))


# ---------------------------------------------------------------------------
# render gather
# ---------------------------------------------------------------------------


def _gather_indexing(canvas, y_off, x_off, apx, apy, lw, lh):
    """render._gather before np.take: np.ix_ for separable coords, fancy
    (py, px) indexing for 2-D coords."""
    ch, cw = canvas.shape[0], canvas.shape[1]
    px, py = apx - x_off, apy - y_off
    ok_x = (px >= 0) & (px < cw) & (apx < lw)
    ok_y = (py >= 0) & (py < ch) & (apy < lh)
    px, py = np.clip(px, 0, cw - 1), np.clip(py, 0, ch - 1)
    if apx.ndim == 1:
        out = canvas[np.ix_(py, px)]
        out[~ok_y, :, :] = 0
        out[:, ~ok_x, :] = 0
    else:
        out = canvas[py, px]
        out[~(ok_x & ok_y)] = 0
    return out


class TestGather:
    def test_matches_indexing_forms(self):
        from cloudtiff_spark.operators.render import _gather

        rng = np.random.default_rng(11)
        for _ in range(200):
            ch, cw = (int(v) * 64 for v in rng.integers(1, 6, 2))
            canvas = rng.integers(0, 256, (ch, cw, 3), dtype=np.uint8)
            y_off, x_off = (int(v) * 64 for v in rng.integers(0, 4, 2))
            lh, lw = y_off + ch - int(rng.integers(0, 63)), x_off + cw - int(rng.integers(0, 63))
            out_h, out_w = (int(v) for v in rng.integers(1, 90, 2))
            # coords reach below the canvas origin and past canvas and level
            apx = rng.integers(x_off - 20, x_off + cw + 20, out_w)
            apy = rng.integers(y_off - 20, y_off + ch + 20, out_h)
            args = (canvas, y_off, x_off, apx, apy, lw, lh)
            got, want = _gather(*args), _gather_indexing(*args)
            assert got.shape == want.shape == (out_h, out_w, 3)
            assert np.array_equal(got, want)
            # 2-D coords: a jittered (projected-like) per-pixel map
            ax2 = np.add.outer(rng.integers(-2, 3, out_h), apx)
            ay2 = np.add.outer(apy, rng.integers(-2, 3, out_w))
            args = (canvas, y_off, x_off, ax2, ay2, lw, lh)
            got, want = _gather(*args), _gather_indexing(*args)
            assert got.shape == want.shape == (out_h, out_w, 3)
            assert np.array_equal(got, want)
