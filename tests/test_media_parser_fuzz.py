"""Fuzz the binary container parsers' quarantine contract: over arbitrary
bytes AND bit-flipped/truncated valid containers, every parser must either
return a value or raise one of its DECLARED malformed-input exceptions —
any other exception class would escape the decode kernels' except clauses
and kill the whole Spark task instead of nulling one row (the D25
posture). This is exactly how the stdlib wave module's RuntimeError path
was found (round 6): wave.open on certain corrupt fmt chunks raises
RuntimeError, which (wave.Error, EOFError, ValueError) did not cover.

Driver-side only (no Spark session needed) — hundreds of examples run in
milliseconds against the same parse functions the kernels call.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib

from hypothesis import given, settings
from hypothesis import strategies as st

# the exception classes the decode kernels catch, per lane, imported from
# the module that catches them: the property being tested is "nothing
# escapes the kernel's clause"
from otlp2parquet_spark.extensions.multimodal import (
    AVI_FRAMES_ERRORS,
    AVI_META_ERRORS,
    JPEG_ERRORS,
    PNG_ERRORS,
    WAV_ERRORS,
    _synth_jpeg,
    average_hash,
    parse_avi_frames,
    parse_avi_meta,
    parse_jpeg_blocks,
    parse_png_meta,
    parse_png_pixels,
    parse_wav_meta,
)


def _wav_bytes(doc_id: int = 7) -> bytes:
    rate, ch, n = 16000, 2, 50
    pcm = hashlib.sha256(str(doc_id).encode()).digest()
    body = (pcm * (n * ch * 2 // len(pcm) + 1))[: n * ch * 2]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(ch)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(body)
    return buf.getvalue()


def _avi_bytes() -> bytes:
    from otlp2parquet_spark.extensions import multimodal as M

    avih = struct.pack("<10I16x", 66666, 0, 0, 0, 3, 0, 1, 0, 64, 48)
    strh = struct.pack(
        "<4s4s3I5I2HI8x", b"vids", b"\x00" * 4, 0, 0, 0, 1, 15, 0, 3, 0, 0, 0, 0
    )
    hdrl = M._avi_list(
        b"hdrl", M._avi_chunk(b"avih", avih) + M._avi_list(b"strl", M._avi_chunk(b"strh", strh))
    )
    movi = M._avi_list(
        b"movi",
        b"".join(M._avi_chunk(b"00dc", hashlib.sha256(f"7:{i}".encode()).hexdigest().encode()) for i in range(3)),
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _png_bytes():
    # the REAL fixture building blocks (multimodal._png_chunk / _PNG_SIG) so
    # the fuzzed 'good' corpus cannot drift from the synthesis
    from otlp2parquet_spark.extensions import multimodal as M

    w, h = 4, 3
    raw = b"".join(b"\x00" + bytes(w) for _ in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        M._PNG_SIG
        + M._png_chunk(b"IHDR", ihdr)
        + M._png_chunk(b"IDAT", zlib.compress(raw))
        + M._png_chunk(b"IEND", b"")
    )


def _wav_parse(b: bytes):
    # the kernels' OWN parse path (header) + the feature kernel's frame read
    parse_wav_meta(b)
    with wave.open(io.BytesIO(b), "rb") as w:
        w.readframes(w.getnframes())


_mutations = st.lists(
    st.tuples(st.integers(min_value=0, max_value=10_000), st.integers(0, 255)),
    min_size=1,
    max_size=12,
)


def _mutate(good: bytes, muts, cut: int) -> bytes:
    b = bytearray(good[: max(1, cut % (len(good) + 1))])
    for pos, val in muts:
        if b:
            b[pos % len(b)] = val
    return bytes(b)


@given(data=st.binary(max_size=400))
@settings(max_examples=300, deadline=None)
def test_parsers_never_crash_on_arbitrary_bytes(data):
    for parse, ok in (
        (_wav_parse, WAV_ERRORS),
        (parse_png_meta, PNG_ERRORS),
        (parse_png_pixels, PNG_ERRORS),
        (parse_avi_meta, AVI_META_ERRORS),
        (parse_avi_frames, AVI_FRAMES_ERRORS),
        (parse_jpeg_blocks, JPEG_ERRORS),
    ):
        try:
            parse(data)
        except ok:
            pass  # declared malformed-input class: the kernel quarantines it


@given(muts=_mutations, cut=st.integers(min_value=1, max_value=10_000))
@settings(max_examples=300, deadline=None)
def test_parsers_never_crash_on_corrupted_containers(muts, cut):
    for good, parse, ok in (
        (_wav_bytes(), _wav_parse, WAV_ERRORS),
        (_png_bytes(), parse_png_meta, PNG_ERRORS),
        (_png_bytes(), parse_png_pixels, PNG_ERRORS),
        (_avi_bytes(), parse_avi_meta, AVI_META_ERRORS),
        (_avi_bytes(), parse_avi_frames, AVI_FRAMES_ERRORS),
        (_synth_jpeg(3), parse_jpeg_blocks, JPEG_ERRORS),
        (_synth_jpeg(6), parse_jpeg_blocks, JPEG_ERRORS),
    ):
        try:
            parse(_mutate(good, muts, cut))
        except ok:
            pass


def test_fixture_containers_roundtrip():
    """The synthesized fixtures must parse back to their formula values —
    anchors the fuzz suite's 'good' corpora to the real fixtures."""
    _wav_parse(_wav_bytes())
    assert parse_png_meta(_png_bytes())[:2] == (4, 3)
    assert parse_avi_meta(_avi_bytes())[:2] == (64, 48)
    assert len(parse_avi_frames(_avi_bytes())) == 3
    w, h, nc, means = parse_jpeg_blocks(_synth_jpeg(3))
    assert (w, h, nc) == (40, 40, 3)
    assert means[0][0] == (3 * 31) % 256 and means[2][1] == (3 * 11 + 5) % 256


def test_png_resize_of_zero_area_image_raises_a_declared_class():
    """A spec-valid PNG of height 0 decodes to an empty plane, whose pixel
    stats have no min: the resize row must raise a PNG_ERRORS class there,
    so the kernel nulls the row instead of failing the task."""
    import pytest

    from otlp2parquet_spark.extensions import multimodal as M

    ihdr = struct.pack(">IIBBBBB", 4, 0, 8, 0, 0, 0, 0)
    png = (
        M._PNG_SIG
        + M._png_chunk(b"IHDR", ihdr)
        + M._png_chunk(b"IDAT", zlib.compress(b""))
        + M._png_chunk(b"IEND", b"")
    )
    assert parse_png_pixels(png).shape == (0, 4)
    with pytest.raises(PNG_ERRORS):
        M._png_resize_row(png)


def _png_filtered(pix, ftype: int, channels: int = 1) -> bytes:
    """Forward-filter `pix` (h x w x c uint8 ndarray) per PNG spec filter
    `ftype` and wrap it in a spec-valid container — the inverse of
    parse_png_pixels's unfilter step, written independently here so the
    round-trip pins the decoder against the SPEC, not against itself."""
    import numpy as np
    from otlp2parquet_spark.extensions import multimodal as M

    h, w, c = pix.shape
    stride = w * c
    flat = pix.reshape(h, stride).astype(int)
    out = bytearray()
    for y in range(h):
        out.append(ftype)
        prev = flat[y - 1] if y > 0 else np.zeros(stride, dtype=int)
        for x in range(stride):
            a = int(flat[y][x - c]) if x >= c else 0
            b = int(prev[x])
            cc = int(prev[x - c]) if x >= c else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            out.append((int(flat[y][x]) - pred) & 0xFF)
    color_type = {1: 0, 3: 2}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        M._PNG_SIG
        + M._png_chunk(b"IHDR", ihdr)
        + M._png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + M._png_chunk(b"IEND", b"")
    )


def test_png_unfilter_all_types_roundtrip():
    """Filters 1-4 never appear in the fixture, so the decoder's unfilter
    arms are pinned here: the same pixels encoded under every filter type
    must reconstruct identically (and therefore share one average hash)."""
    import numpy as np

    rng = np.random.default_rng(7)
    for c in (1, 3):
        pix = rng.integers(0, 256, size=(12, 11, c), dtype=np.uint8)
        if c == 1:
            want = pix[:, :, 0].astype(np.int64)
        else:
            want = (
                pix[:, :, 0].astype(np.int64)
                + pix[:, :, 1]
                + pix[:, :, 2]
            ) // 3
        hashes = set()
        for ftype in range(5):
            got = parse_png_pixels(_png_filtered(pix, ftype, c))
            assert (got == want).all(), (c, ftype)
            hashes.add(average_hash(got))
        assert len(hashes) == 1, c


def test_average_hash_contract():
    """aHash invariants: deterministic, 16 lowercase hex chars, popcount
    matches, tiny images rejected, and a brightness-shifted image keeps a
    small Hamming distance (the property image near-dup banding relies on)."""
    import numpy as np
    import pytest

    rng = np.random.default_rng(11)
    img = rng.integers(0, 200, size=(40, 40), dtype=np.int64)
    hx, nset = average_hash(img)
    assert hx == average_hash(img)[0] and len(hx) == 16
    assert bin(int(hx, 16)).count("1") == nset
    shifted = img + 20  # uniform brightness shift: means shift with it
    hx2, _ = average_hash(shifted)
    assert bin(int(hx, 16) ^ int(hx2, 16)).count("1") <= 4
    with pytest.raises(ValueError):
        average_hash(np.zeros((4, 40), dtype=np.int64))


@given(doc_id=st.integers(min_value=0, max_value=2**60))
@settings(max_examples=200, deadline=None)
def test_jpeg_synth_decode_roundtrip_property(doc_id):
    """Every synthesizable doc_id must round-trip bit-exactly through the
    general baseline decoder: geometry from the formula, every block's
    decoded Y/Cb/Cr equal to the synthesis values — the per-example form
    of the x5_jpeg_blocks oracle, over a far wider id space than the
    fixtures reach (DC deltas spanning the full category range, byte
    stuffing, both component layouts)."""
    from otlp2parquet_spark.extensions.multimodal import (
        _synth_jpeg,
        parse_jpeg_blocks,
    )

    w, h, nc, means = parse_jpeg_blocks(_synth_jpeg(doc_id))
    wb, hb = 2 + doc_id % 6, 2 + doc_id % 5
    assert (w, h) == (8 * wb, 8 * hb)
    assert nc == (1 if doc_id % 2 == 0 else 3)
    for bi in range(wb * hb):
        assert means[0][bi] == (doc_id * 31 + bi * 17) % 256
        if nc == 3:
            assert means[1][bi] == (doc_id * 7 + bi * 3) % 256
            assert means[2][bi] == (doc_id * 11 + bi * 5) % 256


# --- H.264 Annex-B (r11) -----------------------------------------------------

from otlp2parquet_spark.extensions.multimodal import (  # noqa: E402
    _epb_insert,
    _epb_strip,
    _synth_h264,
    parse_h264_nals,
)


@given(data=st.binary(max_size=400))
@settings(max_examples=300, deadline=None)
def test_h264_parser_never_raises_on_arbitrary_bytes(data):
    # parse_h264_nals quarantines per-NAL internally (nulled row), so its
    # contract is stronger than the other parsers': it NEVER raises
    rows = parse_h264_nals(data)
    assert isinstance(rows, list)


@given(muts=_mutations, cut=st.integers(min_value=1, max_value=10_000))
@settings(max_examples=300, deadline=None)
def test_h264_parser_never_raises_on_corrupted_streams(muts, cut):
    for doc_id in (3, 8):
        rows = parse_h264_nals(_mutate(_synth_h264(doc_id), muts, cut))
        assert isinstance(rows, list)


@given(rbsp=st.binary(max_size=200))
@settings(max_examples=300, deadline=None)
def test_h264_epb_roundtrip_and_no_start_codes(rbsp):
    wire = _epb_insert(rbsp)
    assert _epb_strip(wire) == rbsp
    # escaping guarantee (H.264 7.4.1.1): no 00 00 00 / 00 00 01 / 00 00 02
    # survives on the wire. 00 00 03 is NOT forbidden — it is exactly what
    # the escape PRODUCES (e.g. rbsp 00 00 00 -> wire 00 00 03 00), so
    # asserting its absence would fail on spec-correct output (r11 review)
    for pat in (b"\x00\x00\x00", b"\x00\x00\x01", b"\x00\x00\x02"):
        assert pat not in wire


def test_h264_fixture_roundtrip():
    """The synthesized stream parses back to its formula values — anchors
    the fuzz corpus to the real fixture (the test_fixture_containers
    pattern), incl. the sequential-state contract (frame_num width from
    the stream's own SPS) and EPB-stripped body hashes."""
    doc_id = 11  # % 3 == 2: a video row
    rows = parse_h264_nals(_synth_h264(doc_id))
    n_frames = 5 + doc_id % 20
    assert len(rows) == 2 + n_frames
    _, ntype, ref_idc, _, _, _, width, height, _ = rows[0]
    assert (ntype, ref_idc) == (7, 3)
    assert width == 16 * (4 + doc_id % 8) and height == 16 * (3 + doc_id % 6)
    assert rows[1][1] == 8  # PPS
    for i, row in enumerate(rows[2:]):
        idr = i % 8 == 0
        assert row[1] == (5 if idr else 1)
        assert row[4] == (7 if idr else 5)  # slice_type
        assert row[5] == i  # frame_num
        body = (
            hashlib.sha256(f"{doc_id}:{i}".encode()).hexdigest().encode()
            + b"\x00\x00\x01\x00\x00\x02\x00\x00\x03"
        )
        assert row[8] == hashlib.sha256(body).hexdigest()
    # slice before any SPS: the row nulls (no frame_num width available)
    orphan = parse_h264_nals(b"\x00\x00\x01\x41\x88\x80")
    assert len(orphan) == 1 and orphan[0][1] is None
